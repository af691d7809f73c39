package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are `System.nanoTime`; `parent` is the
  * enclosing span on the same thread (-1 for a root), `op` the operation
  * the span belongs to (-1 when it serves several, e.g. a stream epoch).
  */
final case class Span(id: Int, layer: String, name: String, op: Int, parent: Int,
    start: Long, var end: Long = 0L)

/** The benchmark's tracer. Spans are recorded around the benchmark's own
  * calls into each layer; Spark, SQL-execution and streaming listeners count
  * what happens underneath; [[CountingFs]] counts storage calls. When
  * `enabled` is false every method is a pass-through and no listener is
  * registered, which is how end-to-end metrics are taken.
  */
final class Probe(spark: SparkSession) {
  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](layer: String, name: String, op: Int = -1)(f: => T): T =
    if (!enabled) f
    else {
      val parents = stack.get()
      val s = spans.synchronized {
        val s = Span(spans.size, layer, name, op, parents.headOption.getOrElse(-1), System.nanoTime())
        spans += s
        s
      }
      stack.set(s.id :: parents)
      try f
      finally {
        s.end = System.nanoTime()
        stack.set(parents)
      }
    }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Start a traced window here: forget the spans and job intervals of
    * anything before, and take the counters its totals are measured from.
    */
  def mark(): Unit = {
    drain()
    spans.synchronized(spans.clear())
    jobIntervals.clear()
    baseline = counters()
    markedMs = System.currentTimeMillis()
  }
  @volatile var baseline: Map[String, Double] = Map.empty
  @volatile var markedMs = 0L

  // --- listener counters -------------------------------------------------
  private val c = new ConcurrentHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit = { c.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v); () }
  /** One listener counter's total so far. */
  def count(k: String): Long = Option(c.get(k)).map(_.get).getOrElse(0L)
  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()
  /** (start, end) wall-clock millis of every finished job. */
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("spark.jobs", 1); jobStarts.put(e.jobId, e.time); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (s != null) jobIntervals.add((s.longValue, e.time))
      ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_cpu_ns", m.executorCpuTime + m.executorDeserializeCpuTime)
        add("spark.executor_run_ms", m.executorRunTime)
        add("spark.gc_ms", m.jvmGCTime)
        val info = e.taskInfo
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        add("spark.scheduler_delay_ms", math.max(0L, delay))
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spark.shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = qe.tracker.phases.foreach {
      case (phase, s) => add(s"catalog.${phase}_ms", s.durationMs)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      if (p.numInputRows > 0) {
        add("streaming.epochs", 1)
        add("streaming.input_rows", p.numInputRows)
        add("streaming.add_batch_ms", ms("addBatch"))
        add("streaming.trigger_ms", ms("triggerExecution"))
      }
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
    enabled = true
  }

  def stop(): Unit = {
    drain()
    enabled = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every queued listener event has been delivered, so counter
    * reads taken after an op include all of that op's events.
    */
  def drain(): Unit = if (enabled) org.apache.spark.graft.ListenerBusSync.drain(spark.sparkContext)

  /** Cumulative counters: listener totals, storage calls, process CPU and
    * whole-stage-codegen compile time.
    */
  def counters(): Map[String, Double] = {
    val m = scala.collection.mutable.Map.empty[String, Double]
    c.forEach((k, v) => m(k) = v.get.toDouble)
    m ++= CountingFs.snapshot()
    m("process_cpu_s") = Probe.processCpuSeconds()
    m("spark.codegen_compile_ns") =
      org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime.toDouble
    m.toMap
  }
}

object Probe {
  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  def load1(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Peak resident set size of this JVM, MB (VmHWM). */
  def peakRssMb(): Double = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
    lines.toArray(new Array[String](0)).find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  /** Milliseconds of `intervals` that fall inside [lo, hi], overlaps merged. */
  def coveredMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    total + (curB - curA)
  }
}
