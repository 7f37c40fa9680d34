package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Cumulative engine counters at one instant, plus the largest peak
  * execution memory of any task since the collector's last reset.
  */
final case class Snap(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
    runMs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, inputBytes: Long, peakExecMem: Long) {
  /** Counters moved since `o`; the peak is the one seen by now. */
  def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, cpuNs - o.cpuNs, runMs - o.runMs, gcMs - o.gcMs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, inputBytes - o.inputBytes, peakExecMem)
  def +(o: Snap): Snap = Snap(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, cpuNs + o.cpuNs, runMs + o.runMs, gcMs + o.gcMs,
    shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
    spill + o.spill, inputBytes + o.inputBytes,
    math.max(peakExecMem, o.peakExecMem))
  def json: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"cpu_ns":$cpuNs,"run_ms":$runMs,"gc_ms":$gcMs,"shuffle_write":$shuffleWrite,"shuffle_read":$shuffleRead,"spill":$spill,"input_bytes":$inputBytes,"peak_exec_mem":$peakExecMem}"""
}

object Snap { val zero: Snap = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) }

/** One listener per session: job/stage/task counters, the peak
  * execution memory of any task since the last [[resetPeak]], and the
  * duration of every SQL execution, which is one action (a show, count,
  * collect or write, a micro-batch's write).
  */
final class Collector extends SparkListener {
  private val jobs, stages, tasks, cpuNs, runMs, gcMs = new AtomicLong
  private val shW, shR, spill, input, peak = new AtomicLong
  private val sqlStart =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]
  val actionMs = new ConcurrentLinkedQueue[java.lang.Long]

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
      peak.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
    }
    ()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlStart.put(s.executionId, s.time); ()
    case s: SparkListenerSQLExecutionEnd =>
      Option(sqlStart.remove(s.executionId)).foreach(t0 => actionMs.add(s.time - t0))
    case _ => ()
  }

  def snap(): Snap = Snap(jobs.get, stages.get, tasks.get, cpuNs.get,
    runMs.get, gcMs.get, shW.get, shR.get, spill.get, input.get, peak.get)
  def resetPeak(): Unit = peak.set(0)
}

/** Micro-batch progress of every streaming query in the session. */
final class StreamCollector extends StreamingQueryListener {
  val progress = new LinkedBlockingQueue[StreamingQueryListener.QueryProgressEvent]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.put(e); ()
  }
}

/** A timed call into one layer: its parent span, wall interval, and
  * the engine counters that moved inside it.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, counts: Snap) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded from outside the program, around each call into a
  * layer. Kept in memory and written out once, when the run ends. When
  * disabled, [[span]] is a plain call.
  */
final class Tracer(spark: => SparkSession, collector: => Collector,
    val enabled: Boolean) {
  val spans = new ArrayBuffer[Span]
  private var stack = List(0)
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val c0 = collector.snap()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spans += Span(id, parent, name, t0, t1, collector.snap() - c0)
        stack = stack.tail
      }
    }

  def json: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},"counts":${s.counts.json}}"""
  }.mkString("[", ",\n", "]")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
