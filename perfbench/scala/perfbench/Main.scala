package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer, the seed and scale
  * of the generated inputs (`data`), and a private working directory (`work`).
  */
final case class Ctx(spark: SparkSession, probe: Probe, seed: Long, sf: Double, data: String,
    work: String, log: String => Unit) {
  def lakeDir: String = s"$work/lake"
}

/** One operation of a closed-loop workload. `body` returns the fingerprint
  * of the op's output, materialized in full through [[HashSink]];
  * `oracle` is the DuckDB SQL whose rows the output must equal.
  */
final case class Op(name: String, kind: String, oracle: Option[String],
    body: Int => HashSink.Fingerprint)

/** A measured op: wall time, process CPU, and what the checks need. */
final case class OpRecord(id: Int, window: String, round: Int, name: String, kind: String,
    start: Double, wall: Double, cpu: Double, error: Option[String],
    fingerprint: Option[HashSink.Fingerprint], oracle: Option[String],
    counts: Map[String, Double], info: Map[String, Any]) {
  def json: Map[String, Any] = Map(
    "id" -> id, "window" -> window, "round" -> round, "name" -> name, "kind" -> kind,
    "start_s" -> start, "wall_s" -> wall, "cpu_s" -> cpu, "error" -> error,
    "columns" -> fingerprint.map(_.columns), "rows" -> fingerprint.map(_.rows),
    "hash" -> fingerprint.map(_.hex), "oracle" -> oracle, "counts" -> counts, "info" -> info)
}

/** A workload whose single client issues the next op when the previous one
  * returns. Each round is the workload's op set in an order drawn from the
  * seed and the round number.
  */
trait ClosedLoop {
  /** Build the workload's state from scratch (timed as `setup_s`). */
  def setup(rep: Int): Unit
  def round(r: Int): Seq[Op]
  /** Extra facts about the op just run, for the per-layer metrics. */
  def info(op: Op): Map[String, Any] = Map.empty
  /** Bytes of the lake the workload's set-up built. */
  def lakeBytes: Long = 0L
}

object Main {
  /** Counts that must repeat exactly between two runs with one seed. */
  val ExactCounts: Seq[String] = Seq("spark.jobs", "lake.fs_list", "lake.fs_create",
    "lake.fs_rename", "lake.fs_delete", "lake.fs_open", "lake.files_written", "lake.commits")

  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val cores = opts("cores").toInt
    val load1Before = Probe.load1()
    val jvmStart = System.nanoTime()
    if (traced) CountingFs.install()
    CountingFs.scope = Seq(s"$work/lake", s"$work/tmp")
    val spark = graft.GraftSession.builder(s"local[$cores]", cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - jvmStart) / 1e9
    val probe = new Probe(spark)
    val log: String => Unit = s => System.err.println(s"[perfbench] $s")
    val ctx = Ctx(spark, probe, seed, opts("sf").toDouble, opts("data"), work, log)
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "cores" -> cores, "master" -> spark.sparkContext.master,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "session_s" -> sessionS)
    try {
      workload match {
        case "ingest_upsert" => new IngestUpsert(ctx, opts).run(seconds, traced, out)
        case "star_query" => runClosed(ctx, new StarQuery(ctx), seconds, traced, out)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      out("peak_rss_mb") = Probe.peakRssMb()
      out("load1_before") = load1Before
      out("load1_after") = Probe.load1()
      new com.fasterxml.jackson.databind.ObjectMapper()
        .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
        .writeValue(new java.io.File(opts("out")), out)
    } finally {
      spark.stop()
      graft.Tmp.purge()
    }
  }

  def timeSetups(ctx: Ctx, setup: Int => Unit, out: scala.collection.mutable.Map[String, Any]): Unit = {
    val times = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    ctx.log(f"setup ${times.map(t => f"$t%.2f").mkString(" ")} s")
    out("setup_s") = times
  }

  private def runClosed(ctx: Ctx, w: ClosedLoop, seconds: Double, traced: Boolean,
      out: scala.collection.mutable.Map[String, Any]): Unit = {
    timeSetups(ctx, w.setup, out)
    val ops = ArrayBuffer.empty[OpRecord]
    def window(name: String, trace: Boolean, length: Double, maxOps: Int): Seq[OpRecord] = {
      val recs = closedWindow(ctx, w, name, length, trace, firstId = ops.size, maxOps)
      ops ++= recs
      recs
    }
    if (!traced) window("measured", trace = false, seconds, Int.MaxValue)
    else tracedWindows(ctx, out) { (name, trace, full) =>
      // the traced window runs round 0, the overhead windows its first half
      val recs = window(name, trace, 0.0, if (full) Int.MaxValue else w.round(0).size / 2)
      (recs.size, ctx.probe.allSpans.filter(_.layer == "op"))
    }
    out("ops") = ops.map(_.json)
    out("lake_bytes") = w.lakeBytes
  }

  /** A traced run: the window the per-layer metrics come from, which starts
    * from the same state as an untraced run's; then three shorter windows,
    * untraced, traced and untraced again, whose middle one's latency minus
    * the mean of the other two is the tracing overhead. Running the traced
    * one between two untraced ones keeps a JVM that warms up from window to
    * window from showing as a lower overhead.
    * `window(name, traced, full)` runs one window, of full length or a
    * shorter overhead window, and returns its op count and root spans.
    */
  def tracedWindows(ctx: Ctx, out: scala.collection.mutable.Map[String, Any])(
      window: (String, Boolean, Boolean) => (Int, Seq[Span])): Unit = {
    val probe = ctx.probe
    def traced(name: String, full: Boolean): (Map[String, Any], Seq[Span]) = {
      probe.start()
      probe.mark()
      val (n, roots) = window(name, true, full)
      probe.drain()
      val after = probe.counters()
      probe.stop()
      (Tracing.summary(probe, probe.baseline, after, probe.markedMs, System.currentTimeMillis(),
        n, roots), probe.allSpans)
    }
    val (summary, spans) = traced("traced", full = true)
    out("trace") = summary
    out("spans") = Tracing.spansJson(spans)
    window("untraced", false, false)
    traced("traced_again", full = false)
    window("untraced_again", false, false)
    ()
  }

  /** Run whole rounds, at least one, until `seconds` have passed, or the
    * first `maxOps` ops of round 0. The end-to-end metrics come from round
    * 0 alone, so the op set they measure does not depend on how many rounds
    * fit in `seconds`; later rounds are checked like the first.
    */
  def closedWindow(ctx: Ctx, w: ClosedLoop, window: String, seconds: Double,
      traced: Boolean, firstId: Int, maxOps: Int): Seq[OpRecord] = {
    val records = ArrayBuffer.empty[OpRecord]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var r = 0
    while (r == 0 || elapsed < seconds) {
      val it = w.round(r).iterator.take(maxOps)
      while (it.hasNext) {
        val op = it.next()
        records += runOp(ctx, w, op, firstId + records.size, window, r, t0, traced)
      }
      r += 1
    }
    records.toSeq
  }

  private def runOp(ctx: Ctx, w: ClosedLoop, op: Op, id: Int, window: String, round: Int,
      t0: Long, traced: Boolean): OpRecord = {
    val probe = ctx.probe
    val before = if (traced) { probe.drain(); probe.counters() } else Map.empty[String, Double]
    org.apache.spark.sql.graft.GraftCatalog.lastStatsPrune.set((0, 0))
    val cpu0 = Probe.processCpuSeconds()
    val s = System.nanoTime()
    var fp: Option[HashSink.Fingerprint] = None
    var err: Option[String] = None
    probe.span("op", op.name, id) {
      try fp = Some(op.body(id))
      catch { case NonFatal(e) =>
        err = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
        ctx.log(s"op $id ${op.name} failed: ${err.get}")
      }
    }
    val e = System.nanoTime()
    val cpu = Probe.processCpuSeconds() - cpu0
    val counts = if (traced) {
      probe.drain()
      val after = probe.counters()
      (ExactCounts :+ "process_cpu_s").map(k => k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))).toMap
    } else Map.empty[String, Double]
    val (admitted, total) = org.apache.spark.sql.graft.GraftCatalog.lastStatsPrune.get()
    val info = w.info(op) ++ Map("files_admitted" -> admitted, "files_total" -> total)
    graft.Tmp.purge()
    OpRecord(id, window, round, op.name, op.kind, (s - t0) / 1e9, (e - s) / 1e9, cpu, err,
      fp, op.oracle, counts, info)
  }
}

object Storage {
  /** Bytes of all regular files under `dir` (0 when it does not exist). */
  def bytesUnder(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}
