package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.TimeUnit

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, Q, Registry}
import graft.rideshare.{Enrich, RideshareApp, RideshareSchema, RideshareTasks}
import graft.sources.{Sinks, Tables}
import graft.streaming.DocStreams

/** One benchmark run of one workload in one JVM (started by run.py).
  *
  * Usage: BenchMain <workload> <dataDir> <outDir> <seconds> <trace 0|1> <cores>
  *
  * Phases:
  *   1. set-up, [[Setups]] times: a fresh GraftSession each time (the
  *      median is reported, so one cold JVM start does not dominate it);
  *   2. one untimed pass in the cold JVM, whose outputs are checked;
  *   3. timed passes until `seconds` have elapsed, at least
  *      [[TimedPasses]]. With tracing on, traced passes (a span around
  *      each call into a layer) are mixed with untraced ones;
  *   4. checks that need the whole run (the stream against its twin).
  * [[HostProbe]] is timed after the cold pass and after every timed
  * pass, and every pass and action time is recorded both raw and divided
  * by the probe's factor. Everything measured goes to
  * `<outDir>/result.json`; the outputs the Python checks compare stay
  * under `<outDir>/check`.
  */
object BenchMain {
  val Setups = 9
  /** Timed passes per run at least (the median is reported). */
  val TimedPasses = 2

  def main(args: Array[String]): Unit = {
    val Array(workload, data, out, seconds, trace, cores) = args
    val run = new Run(data, out, seconds.toDouble, trace == "1", cores.toInt)
    val w: Workload = workload match {
      case "rideshare_csv" => new RideshareWorkload(run)
      case "parquet_mix" => new Mix("parquet_mix", Seq(
        new QueryWorkload(run, QueryWorkload.Core, QueryWorkload.CoreTables),
        new QueryWorkload(run, QueryWorkload.Corpus, QueryWorkload.CorpusTables),
        new StreamWorkload(run)))
      case other => sys.error(s"unknown workload $other")
    }
    try run.go(w) finally run.stop()
  }
}

trait Workload {
  def name: String
  def pass(traced: Boolean): Unit
  /** Checks that need the whole run, after the timed passes. */
  def finish(): Unit = ()
  /** Layer metrics only this workload measures. */
  def layers(): Seq[(String, Double)] = Nil
}

final class Run(val data: String, val out: String, val seconds: Double,
    val traceOn: Boolean, val cores: Int) {
  var spark: SparkSession = _
  var collector: Collector = _
  var streams: StreamCollector = _
  val tracer = new Tracer(spark, collector, traceOn)
  var attempted = 0L
  val errors = new ArrayBuffer[String]
  val extra = new ArrayBuffer[(String, String)]
  var setupS: Seq[Double] = Nil

  def fail(what: String): Unit = errors += what

  def abs(p: String): String = new File(p).getAbsolutePath

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Stops the previous session (if any) and builds a new one through
    * GraftSession, with scratch space inside the working directory.
    */
  def buildSession(): Unit = {
    if (spark != null) stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    spark = GraftSession.builder(s"local[$cores]", cores)
      .appName("perfbench")
      .config("spark.local.dir", abs("spark-local"))
      .config("spark.sql.warehouse.dir", abs("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    collector = new Collector
    streams = new StreamCollector
    spark.sparkContext.addSparkListener(collector)
    spark.streams.addListener(streams)
  }

  def stop(): Unit = if (spark != null) {
    spark.streams.active.foreach(_.stop())
    spark.stop()
  }

  def go(w: Workload): Unit = {
    setupS = (1 to BenchMain.Setups).map(_ => time(buildSession()))
    // Pass 0 runs in a cold JVM: untimed, it absorbs class loading,
    // code generation and JIT compilation, and its outputs are the
    // ones checked. Timed passes follow; with tracing on, untraced and
    // traced passes alternate (U T U T ...), so a run costs the same
    // with tracing as without, and the overhead is traced minus untraced.
    extra += "cold_pass_s" -> Json.num(time(w.pass(traced = false)))
    drain(); System.gc()
    var before = HostProbe.run(spark)
    val passS, tracedS, ops, liveHeapMb, probeS = new ArrayBuffer[Double]
    val passNorm, tracedNorm, opsNorm = new ArrayBuffer[Double]
    val counts = new ArrayBuffer[Snap]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (i < BenchMain.TimedPasses || elapsed < seconds) {
      val traced = traceOn && i % 2 == 1
      drain(); collector.actionMs.clear(); collector.resetPeak()
      val c0 = collector.snap()
      val s = time(if (traced) tracer.span("pass")(w.pass(traced = true))
        else w.pass(traced = false))
      drain()
      val c1 = collector.snap()
      // a full collection between passes: each pass starts from the same
      // heap, and what survives it is the memory the session retains
      System.gc()
      val live = heapUsedMb()
      val after = HostProbe.run(spark)
      val host = HostProbe.factor(before, after)
      before = after
      if (traced) { tracedS += s; tracedNorm += s / host }
      else {
        passS += s
        passNorm += s / host
        probeS += host * HostProbe.RefS
        liveHeapMb += live
        val a = Iterator.continually(collector.actionMs.poll())
          .takeWhile(_ != null).map(_.doubleValue / 1e3).toSeq
        ops ++= a
        opsNorm ++= a.map(_ / host)
        counts += c1 - c0
      }
      i += 1
    }
    extra += "finish_s" -> Json.num(time(w.finish()))
    val layer = LinkedHashMap[String, Double]()
    if (traceOn) {
      layer ++= engineLayers()
      layer ++= w.layers()
      layer("trace.overhead_s") = median(tracedNorm.toSeq) - median(passNorm.toSeq)
      Files.write(Paths.get(s"$out/spans.json"), tracer.json.getBytes(UTF_8))
    }
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    val hwmKb = "VmHWM:\\s+(\\d+)".r.findFirstMatchIn(status)
      .map(_.group(1).toDouble).getOrElse(Double.NaN)
    val fields = Seq(
      "workload" -> Json.str(w.name),
      "cores" -> cores.toString,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark_version" -> Json.str(spark.version),
      "setup_s" -> Json.arr(setupS),
      "pass_s" -> Json.arr(passS),
      "pass_norm_s" -> Json.arr(passNorm),
      "traced_pass_s" -> Json.arr(tracedS),
      "op_s" -> Json.arr(ops),
      "op_norm_s" -> Json.arr(opsNorm),
      "pass_counts" -> counts.map(_.json).mkString("[", ",", "]"),
      "attempted" -> attempted.toString,
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "peak_rss_mb" -> Json.num(hwmKb / 1024),
      "live_heap_mb" -> Json.arr(liveHeapMb),
      "probe_s" -> Json.arr(probeS),
      "layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) })
    ) ++ extra
    Files.write(Paths.get(s"$out/result.json"), Json.obj(fields).getBytes(UTF_8))
    ()
  }

  private def heapUsedMb(): Double =
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

  /** Per traced pass: seconds and counters over spans whose name matches. */
  def perPass(p: String => Boolean): (Double, Snap) = {
    val n = math.max(1, tracer.spans.count(_.name == "pass"))
    val s = tracer.spans.filter(x => p(x.name))
    val c = s.map(_.counts).foldLeft(Snap.zero)(_ + _)
    (s.map(_.seconds).sum / n, Snap(c.jobs / n, c.stages / n, c.tasks / n,
      c.cpuNs / n, c.runMs / n, c.gcMs / n, c.shuffleWrite / n,
      c.shuffleRead / n, c.spill / n, c.inputBytes / n, c.peakExecMem))
  }

  /** The layers every workload crosses, per traced pass. */
  private def engineLayers(): Seq[(String, Double)] = {
    val (_, pass) = perPass(_ == "pass")
    val (rs, rc) = perPass(_.startsWith("sources.read"))
    val (bs, bc) = perPass(_.startsWith("analog.build"))
    Seq(
      "session.build_s" -> median(setupS),
      "sources.read_s" -> rs, "sources.read_jobs" -> rc.jobs.toDouble,
      "analog.build_s" -> bs, "analog.build_jobs" -> bc.jobs.toDouble,
      "plan_s" -> perPass(_.startsWith("plan/"))._1,
      "spark.jobs" -> pass.jobs.toDouble, "spark.stages" -> pass.stages.toDouble,
      "spark.tasks" -> pass.tasks.toDouble,
      "spark.tasks_per_stage" -> pass.tasks.toDouble / math.max(1L, pass.stages),
      "spark.task_cpu_s" -> pass.cpuNs / 1e9,
      "spark.task_run_s" -> pass.runMs / 1e3,
      "spark.cpu_share" -> pass.cpuNs / 1e6 / math.max(1L, pass.runMs),
      "spark.gc_s" -> pass.gcMs / 1e3,
      "spark.shuffle_write_bytes" -> pass.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> pass.shuffleRead.toDouble,
      "spark.spill_bytes" -> pass.spill.toDouble,
      "spark.peak_exec_mem_bytes" -> pass.peakExecMem.toDouble,
      "spark.input_bytes" -> pass.inputBytes.toDouble)
  }

  /** Runs `body` with everything it prints to the console captured. */
  def captured(body: => Unit): String = {
    val buf = new ByteArrayOutputStream
    val ps = new PrintStream(buf, true, "UTF-8")
    Console.withOut(ps)(body)
    buf.toString("UTF-8")
  }
}

/** A fixed Spark job on the RDD API (300,000 keyed longs summed per key
  * through a shuffle, on the session's task threads), timed after the
  * cold pass and after every pass. It runs on the same scheduler, task
  * threads, shuffle files and heap as the passes but calls no program
  * code (the RDD API bypasses the SQL extensions), so its time moves with
  * what the host gives this JVM, which on a shared host drifts by up to
  * 2x within minutes, and not with the program. Every pass and action
  * time is divided by the probe's [[factor]] around it: seconds on a host
  * where the probe takes [[RefS]]. The raw times are recorded beside them.
  */
object HostProbe {
  /** Fixed for good: changing it rescales every normalised time. */
  val RefS = 0.4
  /** Mean of the probe times around an interval, relative to [[RefS]]. */
  def factor(probes: Double*): Double = probes.sum / probes.size / RefS
  /** The median of three runs of the job, in seconds. */
  def run(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    val t = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      sc.parallelize(0 until 300000, 2)
        .map(i => ((i * 7919L) % 4096, i.toLong))
        .reduceByKey(_ + _, 2).values.sum()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    t(1)
  }
}

/** Parts run one after another in every phase. */
final class Mix(val name: String, parts: Seq[Workload]) extends Workload {
  def pass(traced: Boolean): Unit = parts.foreach(_.pass(traced))
  override def finish(): Unit = parts.foreach(_.finish())
  override def layers(): Seq[(String, Double)] = parts.flatMap(_.layers())
}

/** `RideshareApp.run`: CSV in, four CSVs and the console tables out. */
final class RideshareWorkload(r: Run) extends Workload {
  val name = "rideshare_csv"
  private val trips = s"${r.data}/rideshare/trips"
  private val zones = s"${r.data}/rideshare/taxi_zone_lookup.csv"
  private val outputs = Seq("trip_count", "total_profit", "total_earnings",
    "avg_waiting_time")
  private var firstText: String = _

  /** The cold pass's outputs are the ones checked against the DuckDB
    * replay; every later pass, traced or not, must reproduce them exactly.
    */
  def pass(traced: Boolean): Unit = {
    val first = firstText == null
    val dir = s"${r.out}/${if (first) "check" else "pass"}"
    r.attempted += 1
    val text = r.captured(
      if (traced) tracedRun(dir) else RideshareApp.run(r.spark, trips, zones, dir))
    if (first) {
      firstText = text
      Files.write(Paths.get(s"$dir/console.txt"), text.getBytes(UTF_8))
    } else if (text != firstText || !sameOutputs(dir))
      r.fail(s"rideshare pass (traced=$traced) output differs from the cold pass")
    ()
  }

  private def sameOutputs(dir: String): Boolean = outputs.forall { o =>
    def content(d: String) = Option(new File(s"$d/$o").listFiles)
      .getOrElse(Array.empty[File]).filter(_.getName.endsWith(".csv"))
      .sortBy(_.getName).map(f => new String(Files.readAllBytes(f.toPath), UTF_8))
      .mkString
    content(dir) == content(s"${r.out}/check")
  }

  /** The body of `RideshareApp.run`, call for call in the same order,
    * with a span around the reads, the enrichment and each task.
    */
  private def tracedRun(outDir: String): Unit = {
    val t = r.tracer
    val (tripsDf, zonesDf) = t.span("sources.read")(
      (RideshareSchema.readTrips(r.spark, trips),
        RideshareSchema.readZones(r.spark, zones)))
    val enriched = t.span("analog.build/enrich")(Enrich.enrich(tripsDf, zonesDf))
    t.span("rideshare.t1") {
      enriched.show(5, truncate = false)
      enriched.printSchema()
      println(s"enriched_count=${enriched.count()}")
    }
    t.span("rideshare.t2") {
      Sinks.writeCsvSingle(RideshareTasks.tripCountsByBusinessMonth(enriched),
        s"$outDir/trip_count")
      Sinks.writeCsvSingle(RideshareTasks.totalProfitsByBusinessMonth(enriched),
        s"$outDir/total_profit")
      Sinks.writeCsvSingle(RideshareTasks.totalEarningsByBusinessMonth(enriched),
        s"$outDir/total_earnings")
    }
    t.span("rideshare.t3") {
      RideshareTasks.topBoroughsPerMonth(enriched, "Pickup").show(100, truncate = false)
      RideshareTasks.topBoroughsPerMonth(enriched, "Dropoff").show(100, truncate = false)
      RideshareTasks.topRoutesByProfit(enriched).show(30, truncate = false)
    }
    t.span("rideshare.t4") {
      RideshareTasks.avgDriverPayByTimeOfDay(enriched).show(truncate = false)
      RideshareTasks.avgTripLengthByTimeOfDay(enriched).show(truncate = false)
      RideshareTasks.earningsPerMile(enriched).show(truncate = false)
    }
    t.span("rideshare.t5") {
      Sinks.writeCsvSingle(RideshareTasks.januaryDailyAvgWait(enriched),
        s"$outDir/avg_waiting_time")
      val overDays = RideshareTasks.daysWithAvgWaitOver(enriched)
        .collect().map(_.get(0)).mkString("[", ", ", "]")
      println(s"days_over_300s=$overDays")
    }
    t.span("rideshare.t6") {
      RideshareTasks.lowVolumeBoroughSlots(enriched).show(truncate = false)
      RideshareTasks.eveningCountsByBorough(enriched).show(truncate = false)
      val bsi = RideshareTasks.brooklynToStatenIsland(enriched)
      println(s"brooklyn_to_staten_island=${bsi.count()}")
      bsi.show(10, truncate = false)
    }
    t.span("rideshare.t7") {
      RideshareTasks.topRoutesPivotedByBusiness(enriched).show(10, truncate = false)
    }
  }

  override def layers(): Seq[(String, Double)] = {
    val csvBytes = Option(new File(trips).listFiles).getOrElse(Array.empty[File])
      .map(_.length).sum.toDouble
    (1 to 7).map(i => s"rideshare.t${i}_s" -> r.perPass(_ == s"rideshare.t$i")._1) :+
      ("rideshare.scan_amplification" -> r.perPass(_ == "pass")._2.inputBytes / csvBytes)
  }
}

object QueryWorkload {
  /** Reference-surface analogs (`graft.Bench` counts these as core): the
    * enrichment join and sessions over events.
    */
  val Core = Seq("t1_enrich_count", "events_sessionize")
  val CoreTables = Seq("nation", "customer", "orders", "events")
  /** Pair mining (shuffle-heavy), the PII scrub with its sorted export,
    * and a top-k served from a ModelStore artifact (stored by the cold
    * pass, read back by every timed pass).
    */
  val Corpus = Seq("dedup_minhash_pairs", "pii_scrub", "sim_sq_topk_loaded")
  val CorpusTables = Seq("documents", "embeddings")
}

/** Registered queries, one after another: each built, planned and run,
  * with the cache cleared before each as `graft.Bench` does.
  */
final class QueryWorkload(r: Run, names: Seq[String], tables: Seq[String])
    extends Workload {
  val name = names.mkString(",")
  private val dir = s"${r.data}/tables"
  private val qs: Seq[Q] = {
    val byName = Registry.all.map(q => q.name -> q).toMap
    names.map(byName)
  }

  private var cold = true

  /** The cold pass writes each result as parquet for the oracle check;
    * timed passes run into the `noop` sink, as `graft.Bench` does.
    */
  private def write(q: Q, df: DataFrame): Unit =
    if (cold) df.write.mode("overwrite").parquet(s"${r.out}/check/${q.name}")
    else df.write.format("noop").mode("overwrite").save()

  def pass(traced: Boolean): Unit = {
    if (cold) {
      val oracle = qs.flatMap(q => q.oracle.map(o => q.name -> Json.str(o)))
      Files.write(Paths.get(s"${r.out}/oracle_sql_${qs.head.name}.json"),
        Json.obj(oracle).getBytes(UTF_8))
    }
    val t = r.tracer
    if (traced) tables.foreach { n =>
      t.span(s"sources.read/$n")(
        if (n == "events") Tables.events(r.spark, dir) else Tables.table(r.spark, dir, n))
    }
    qs.foreach { q =>
      r.spark.catalog.clearCache()
      r.attempted += 1
      try {
        if (traced) t.span(s"query/${q.name}") {
          val df = t.span(s"analog.build/${q.name}")(q.fn(r.spark, dir))
          t.span(s"exec/${q.name}") {
            t.span(s"plan/${q.name}")(df.queryExecution.executedPlan)
            t.span(s"action/${q.name}")(write(q, df))
          }
        } else write(q, q.fn(r.spark, dir))
      } catch { case e: Throwable => r.fail(s"${q.name}: $e") }
    }
    cold = false
  }

  override def layers(): Seq[(String, Double)] =
    names.filter(QueryWorkload.Corpus.contains).flatMap { q =>
      Seq(s"corpus.$q.build_s" -> r.perPass(_ == s"analog.build/$q")._1,
        s"corpus.$q.exec_s" -> r.perPass(_ == s"exec/$q")._1)
    }
}

/** `DocStreams.startIngestPipeline` fed as a closed loop: the next file
  * of arriving docs is dropped only after the micro-batch that read the
  * previous one has committed.
  */
final class StreamWorkload(r: Run) extends Workload {
  val name = "ingest_stream"
  val FilesPerPass = 1
  val MaxNll = 7000000L
  private val staged = Option(new File(s"${r.data}/stream/arrivals").listFiles)
    .getOrElse(Array.empty[File]).sortBy(_.getName).toIndexedSeq
  private var next = 0
  private var docsPerFile = 0L
  private val src = r.abs(s"${r.out}/stream/src")
  private val sink = r.abs(s"${r.out}/stream/sink")
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private var indexS = Double.NaN
  private val durations = new ArrayBuffer[Map[String, Long]]

  private def corpus = r.spark.read.schema("doc_id BIGINT, text STRING")
    .parquet(s"${r.data}/stream/corpus.parquet")

  /** Starts the pipeline; it builds and persists the band index and LM. */
  private def start(): Unit = {
    new File(src).mkdirs()
    indexS = r.time {
      query = r.tracer.span("streaming.index_build")(DocStreams
        .startIngestPipeline(r.spark, src, corpus, corpus, sink,
          r.abs(s"${r.out}/stream/ckpt"), MaxNll))
    }
  }

  /** Drops the next staged file and waits for the batch that reads it. */
  private def batch(): Unit = {
    require(next < staged.size, "ran out of staged arrival files")
    val f = staged(next); next += 1
    r.attempted += 1
    val tmp = Paths.get(s"$src/.${f.getName}")
    Files.copy(f.toPath, tmp)
    Files.move(tmp, Paths.get(s"$src/${f.getName}"), StandardCopyOption.ATOMIC_MOVE)
    var done = false
    while (!done) {
      val e = r.streams.progress.poll(120, TimeUnit.SECONDS)
      if (e == null) sys.error(s"no micro-batch committed ${f.getName}")
      if (e.progress.id == query.id && e.progress.numInputRows > 0) {
        docsPerFile = e.progress.numInputRows
        durations += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        done = true
      }
    }
  }

  /** The cold pass starts the pipeline, after the queries before it in
    * the mix have paid the JVM's first costs.
    */
  def pass(traced: Boolean): Unit = {
    if (query == null) start()
    (1 to FilesPerPass).foreach(_ =>
      if (traced) r.tracer.span("streaming.batch")(batch()) else batch())
  }

  /** The sink's union equals the batch twin over every dropped doc, each
    * doc present exactly once.
    */
  override def finish(): Unit = {
    query.stop()
    val dropped = staged.take(next).map(_.getAbsolutePath)
    val docs = r.spark.read.schema(Tables.documentsSchema).parquet(dropped: _*)
    val lm = graft.operators.Perplexity.model(corpus)
    val twin = DocStreams.ingestVerdicts(docs, DocStreams.bandRows(corpus), lm, MaxNll)
      .collect().map(x => x.getLong(0) -> x.toSeq.slice(1, 5)).toMap
    val got = r.spark.read.parquet(sink).collect()
    val gotMap = got.map(x => x.getLong(0) -> x.toSeq.slice(1, 5)).toMap
    val nDocs = docs.count()
    r.attempted += 1
    if (got.length != nDocs || gotMap.size != got.length || twin != gotMap)
      r.fail(s"stream sink (${got.length} rows, ${gotMap.size} docs) differs " +
        s"from DocStreams.ingestVerdicts over the $nDocs dropped docs")
    val reasons = got.groupBy(_.getString(3)).map { case (k, v) => k -> v.length.toString }
    r.extra += "verdicts" -> Json.obj(reasons)
    r.extra += "stream_docs_per_pass" -> (FilesPerPass * docsPerFile).toString
    ()
  }

  override def layers(): Seq[(String, Double)] = {
    def med(k: String) = r.median(durations.toSeq.flatMap(_.get(k)).map(_.toDouble))
    Seq("trigger_ms" -> "triggerExecution", "addBatch_ms" -> "addBatch",
      "queryPlanning_ms" -> "queryPlanning", "walCommit_ms" -> "walCommit",
      "commitOffsets_ms" -> "commitOffsets", "latestOffset_ms" -> "latestOffset")
      .map { case (m, k) => s"streaming.$m" -> med(k) } :+
      ("streaming.index_build_s" -> indexS)
  }
}
