package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.lake.{Lake, Retention}
import graft.warehouse.{SummaryRewrite, Warehouse}

/** The reference's Kafka → lake → warehouse path as one Structured Streaming
  * query, driven open-loop: a generator thread lands pre-cut event batches
  * in a directory on a fixed schedule, whatever the query is doing. Each
  * epoch appends to the date-partitioned feed, MERGE-upserts the
  * latest-event-per-user table (`Warehouse.mergeIntoTable`) and the per-user
  * totals table (catalog `MERGE INTO`), refreshes the dashboard's summary
  * view from the change feed and reads the dashboard. Every
  * [[IngestUpsert.EraseEvery]]th epoch erases three users (`DELETE`, which
  * commits equality-delete sidecars); every [[IngestUpsert.MaintainEvery]]th
  * compacts the totals table and prunes its old versions. The untimed
  * warm-up epoch (epoch 0) does both, so no path runs cold in the window.
  *
  * An op is one landed batch; its latency runs from the batch's due time
  * until a dashboard read that includes it returns.
  */
final class IngestUpsert(ctx: Ctx, opts: Map[String, String]) {
  import IngestUpsert._
  private val spark = ctx.spark
  private val interval = opts("interval").toDouble
  private val batchDir = opts("batches")
  // gen.py draws events.user_id from [0, users)
  private val users = math.max(150, (15000 * ctx.sf).toInt)
  private val batchFiles = Files.list(Paths.get(batchDir)).iterator().asScala
    .map(_.getFileName.toString).filter(_.matches(raw"b\d+\.parquet")).toSeq.sorted
  private lazy val schema = spark.read.parquet(s"$batchDir/initial.parquet").schema

  private var rep = -1
  private def root = s"${ctx.lakeDir}/ingest$rep"
  private def cat = s"pbing$rep"
  private def mvName = s"perfbench_dashboard$rep"

  def setup(r: Int): Unit = {
    rep = r
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val initial = spark.read.parquet(s"$batchDir/initial.parquet")
    Lake.appendStream(initial, root, Feed, Some("ts"))
    Warehouse.mergeIntoTable(spark, root, "user_latest", initial, Seq("user_id"), OrderCols)
    Lake.writeTableSnapshot(totals(initial), root, "user_totals")
    SummaryRewrite.createForTable(spark, mvName, root, "user_latest", s"$root/mv_dash",
      keys = Seq("event_type"), rowKeys = Seq("user_id"),
      sums = Seq("value" -> Some("decimal(18,2)")))
    ()
  }

  def run(seconds: Double, traced: Boolean, out: mutable.Map[String, Any]): Unit = {
    Main.timeSetups(ctx, setup, out)
    val windows = mutable.ArrayBuffer.empty[Map[String, Any]]
    if (!traced) windows += window("measured", seconds)
    else {
      var reps = Main.SetupReps - 1
      Main.tracedWindows(ctx, out) { (name, _, full) =>
        // every window after the first starts from a fresh set-up
        if (reps >= Main.SetupReps) setup(reps)
        reps += 1
        val w = window(name, if (full) seconds else seconds / 2)
        windows += w
        (w("batches").asInstanceOf[Seq[_]].size,
          ctx.probe.allSpans.filter(s => s.layer == "streaming"))
      }
    }
    out("windows") = windows
  }

  /** One open-loop window on the state of the latest set-up. */
  private def window(name: String, seconds: Double): Map[String, Any] = {
    val landing = Paths.get(s"${ctx.work}/landing-$name")
    Files.createDirectories(landing)
    // a batch falls due at the start of each interval in the window
    val n = math.min(batchFiles.size, math.max(1, math.ceil(seconds / interval).toInt))
    val due = new Array[Long](n)
    val landed = new Array[Long](n)
    val fresh = new ConcurrentHashMap[Int, java.lang.Long]()
    val epochs = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    var ordinal = 0
    var erasures = 0
    @volatile var t0 = 0L

    def land(file: String): Unit = {
      val tmp = landing.resolve(s".$file")
      Files.copy(Paths.get(s"$batchDir/$file"), tmp)
      Files.move(tmp, landing.resolve(file), StandardCopyOption.ATOMIC_MOVE)
      ()
    }

    def epoch(b: DataFrame, epochId: Long): Unit = {
      val ss = b.sparkSession
      val files = sourceFiles(name, epochId)
      val batches = files.collect { case BatchFile(i) => i.toInt }
      val k = ordinal
      ordinal += 1
      val started = System.nanoTime()
      var erased = Seq.empty[Long]
      var maintained = false
      val probe = ctx.probe
      val (dash, mvHit) = probe.span("streaming", "add_batch") {
        b.persist()
        try {
          probe.span("lake", "commit")(Lake.appendStream(b, root, Feed, Some("ts")))
          probe.span("warehouse", "merge") {
            Warehouse.mergeIntoTable(ss, root, "user_latest", b, Seq("user_id"), OrderCols)
          }
          probe.span("warehouse", "merge") {
            totals(b).createOrReplaceTempView("perfbench_epoch_totals")
            ss.sql(s"""MERGE INTO $cat.tables.user_totals t USING perfbench_epoch_totals s
                      |ON t.user_id = s.user_id
                      |WHEN MATCHED THEN UPDATE SET t.cnt = t.cnt + s.cnt,
                      |  t.total = CAST(t.total + s.total AS DECIMAL(18,2))
                      |WHEN NOT MATCHED THEN INSERT (user_id, cnt, total)
                      |  VALUES (s.user_id, s.cnt, s.total)""".stripMargin)
          }
          if (k % EraseEvery == 0) {
            erased = eraseKeys(erasures)
            erasures += 1
            val in = erased.mkString(", ")
            probe.span("lake", "commit") {
              ss.sql(s"DELETE FROM $cat.tables.user_totals WHERE user_id IN ($in)")
              ss.sql(s"DELETE FROM $cat.tables.user_latest WHERE user_id IN ($in)")
            }
          }
          if (k % MaintainEvery == 0) {
            maintained = true
            probe.span("lake", "maintenance") {
              Lake.compactTable(ss, root, "user_totals")
              Retention.pruneTableVersions(ss, root, "user_totals", keep = KeepVersions)
            }
          }
          probe.span("warehouse", "mv_refresh")(SummaryRewrite.refreshFromChanges(ss, mvName))
          probe.span("lake", "read") {
            val q = ss.sql(s"""SELECT event_type, COUNT(*) AS users,
                              |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
                              |FROM $cat.tables.user_latest GROUP BY event_type""".stripMargin)
            val rows = q.collect()
            (rows.map(r => Seq(r.getString(0), r.getLong(1), r.getDouble(2))).toSeq,
              SummaryRewrite.scannedPaths(q.queryExecution.optimizedPlan).exists(_.contains("/mv_dash")))
          }
        } finally { b.unpersist(); () }
      }
      val now = System.nanoTime()
      batches.foreach(i => fresh.put(i, now))
      epochs.add(Map("epoch" -> epochId, "ordinal" -> k, "files" -> files, "batches" -> batches,
        "start_s" -> (started - t0) / 1e9, "end_s" -> (now - t0) / 1e9,
        "dashboard" -> dash, "erased" -> erased, "maintained" -> maintained, "mv_hit" -> mvHit))
      ()
    }

    val query = spark.readStream.schema(schema).parquet(landing.toString)
      .writeStream
      .option("checkpointLocation", s"${ctx.work}/checkpoint-$name")
      .foreachBatch((b: DataFrame, id: Long) => epoch(b, id))
      .start()
    try {
      // one untimed epoch first, so the query is planned before batches fall due
      t0 = System.nanoTime()
      val probe = ctx.probe
      val progressed = probe.count("streaming.epochs")
      land("warm.parquet")
      while (epochs.isEmpty && query.exception.isEmpty) Thread.sleep(5)
      // a traced window starts after the warm-up epoch's progress event
      if (probe.enabled) {
        while (probe.count("streaming.epochs") == progressed && query.exception.isEmpty) {
          probe.drain()
          Thread.sleep(5)
        }
        probe.mark()
      }
      query.exception.foreach(e => throw e)
      val cpu0 = Probe.processCpuSeconds()
      t0 = System.nanoTime() + 50000000L
      val generator = new Thread(() => {
        for (i <- 0 until n) {
          due(i) = t0 + (i * interval * 1e9).toLong
          val wait = due(i) - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          land(batchFiles(i))
          landed(i) = System.nanoTime()
        }
      }, "perfbench-generator")
      generator.start()
      generator.join()
      val deadline = System.nanoTime() + ((DrainSeconds + seconds) * 1e9).toLong
      while (fresh.size < n && System.nanoTime() < deadline && query.exception.isEmpty)
        Thread.sleep(5)
      val cpu = Probe.processCpuSeconds() - cpu0
      query.exception.foreach(e => ctx.log(s"stream failed: $e"))
      query.stop()
      Map("name" -> name, "rep" -> rep, "interval_s" -> interval, "cpu_s" -> cpu,
        "batches" -> (0 until n).map { i =>
          val f = Option(fresh.get(i)).map(v => (v.longValue - t0) / 1e9)
          Map("batch" -> i, "file" -> batchFiles(i), "due_s" -> (due(i) - t0) / 1e9,
            "landed_s" -> (landed(i) - t0) / 1e9, "fresh_s" -> f)
        },
        "epochs" -> epochs.asScala.toSeq,
        "final" -> finalState(),
        "lake_bytes" -> Storage.bytesUnder(root))
    } finally if (query.isActive) query.stop()
  }

  /** Names of the files the stream's source read in epoch `epochId`, from
    * the file source's log in the checkpoint (a `.compact` file holds the
    * entries of every epoch so far).
    */
  private def sourceFiles(window: String, epochId: Long): Seq[String] = {
    val dir = Paths.get(s"${ctx.work}/checkpoint-$window/sources/0")
    val log = Seq(s"$epochId", s"$epochId.compact").map(dir.resolve).find(Files.exists(_))
      .getOrElse(throw new IllegalStateException(s"no source log for epoch $epochId"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.readAllLines(log).asScala.drop(1).map(mapper.readTree)
      .filter(_.get("batchId").asLong == epochId)
      .map(n => Paths.get(new java.net.URI(n.get("path").asText)).getFileName.toString)
      .toSeq.sorted
  }

  /** Fingerprints of the three tables after the window, for the model check. */
  private def finalState(): Map[String, Any] = {
    def fp(df: DataFrame): Map[String, Any] = {
      val f = HashSink.run(df)
      Map("columns" -> f.columns, "rows" -> f.rows, "hash" -> f.hex)
    }
    val events = schema.fieldNames.map(col).toSeq
    Map(
      "feed" -> fp(Lake.readStreamFeed(spark, root, Feed).select(events: _*)),
      "user_latest" -> fp(Lake.readTableFeed(spark, root, "user_latest").select(events: _*)),
      "user_totals" -> fp(spark.sql(s"SELECT user_id, cnt, total FROM $cat.tables.user_totals")))
  }

  /** The users the `j`th erasure removes, drawn from the seed. */
  private def eraseKeys(j: Int): Seq[Long] = {
    val rng = new scala.util.Random(ctx.seed * 1000003L + j)
    Iterator.continually(rng.nextInt(users).toLong).distinct.take(3).toSeq.sorted
  }
}

object IngestUpsert {
  val Feed = "events_feed"
  val OrderCols: Seq[String] = Seq("ts", "event_id")
  val EraseEvery = 2
  val MaintainEvery = 3
  val KeepVersions = 3
  /** How long after the last batch falls due the window waits for it. */
  val DrainSeconds = 30.0
  private val BatchFile = raw"b(\d+)\.parquet".r

  def totals(df: DataFrame): DataFrame = df.groupBy("user_id").agg(
    count(lit(1)).as("cnt"),
    sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("total"))
}
