package perfbench

import graft.lake.Lake
import graft.warehouse.SummaryRewrite

/** The analyst read path: every `q_tpch_*` and `b*` reference gate, called
  * through `SparkEntry.queries`, plus catalog SQL over the orders and
  * lineitem star tables committed to the lake at set-up — point and range
  * lookups that file stats and blooms prune, a `VERSION AS OF` read, and an
  * aggregate a summary view answers. Nothing commits while it is measured.
  */
final class StarQuery(ctx: Ctx) extends ClosedLoop {
  import StarQuery._
  private val spark = ctx.spark
  private var cat = ""
  private var root = ""
  private val deleted = (1000L + ctx.seed % 1000, 1999L + ctx.seed % 1000)

  private val gates = {
    val all = graft.SparkEntry.queries
    GateNames.map(n => n -> all(n))
  }

  def setup(rep: Int): Unit = {
    root = s"${ctx.lakeDir}/star$rep"
    cat = s"pbstar$rep"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[org.apache.spark.sql.graft.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // one file per range partition, so stats and blooms have files to skip
    val keep = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      commit("orders", "o_orderkey", "o_custkey")
      commit("lineitem", "l_orderkey", "l_partkey")
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // version 2 of orders drops a key range (a merge-on-read delete), so
    // version 1 stays readable only through time travel
    spark.sql(s"DELETE FROM $cat.tables.orders WHERE o_orderkey BETWEEN ${deleted._1} AND ${deleted._2}")
    SummaryRewrite.createForTable(spark, MvName, root, "lineitem", s"$root/mv_lineitem",
      keys = Seq("l_returnflag", "l_linestatus"), rowKeys = Seq("l_orderkey", "l_linenumber"),
      sums = Seq("l_extendedprice" -> Some("decimal(18,2)")),
      mins = Seq("l_shipdate"), maxs = Seq("l_shipdate"))
    ()
  }

  private def commit(table: String, clusterBy: String, bloom: String): Unit = {
    Lake.setTableProperties(spark, root, table,
      Map(Lake.ClusterByProp -> clusterBy, "bloom_filter_columns" -> bloom))
    val df = spark.read.parquet(s"${ctx.data}/$table.parquet")
    Lake.writeTableSnapshot(Lake.applyClusterPolicy(spark, root, table, df), root, table)
    ()
  }

  def round(r: Int): Seq[Op] = {
    val rng = new scala.util.Random(ctx.seed * 7919L + r)
    val gateOps = gates.map { case (name, fn) =>
      val layer = if (ExtGates.contains(name)) "ext" else "queries"
      Op(name, layer, Some(graft.SparkEntry.oracleSql(name)), id => {
        val df = ctx.probe.span(layer, "call", id)(fn(spark, ctx.data))
        ctx.probe.span("spark", "materialize", id)(HashSink.run(df))
      })
    }
    val orders = (1500000 * ctx.sf).toInt
    val orderKey = rng.nextInt(orders).toLong
    val custKey = rng.nextInt((150000 * ctx.sf).toInt).toLong
    val partKey = rng.nextInt((200000 * ctx.sf).toInt).toLong
    val lo = rng.nextInt(orders - 2000).toLong
    val flag = Seq("A", "N", "R")(rng.nextInt(3))
    val sqlOps = Seq(
      "cat_point_key" -> s"SELECT * FROM {orders} WHERE o_orderkey = $orderKey",
      "cat_range_key" ->
        s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
           |FROM {lineitem} WHERE l_orderkey BETWEEN $lo AND ${lo + 2000}
           |GROUP BY l_returnflag, l_linestatus""".stripMargin,
      "cat_bloom_orders" ->
        s"SELECT o_orderkey, o_totalprice, o_orderdate FROM {orders} WHERE o_custkey = $custKey",
      "cat_bloom_lineitem" ->
        s"SELECT l_orderkey, l_linenumber, l_quantity FROM {lineitem} WHERE l_partkey = $partKey",
      "cat_version_as_of" ->
        s"""SELECT o_orderpriority, COUNT(*) AS n,
           |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM {orders_v1} GROUP BY o_orderpriority""".stripMargin,
      "cat_summary_view" ->
        s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           |MIN(l_shipdate) AS first_ship, MAX(l_shipdate) AS last_ship
           |FROM {lineitem} WHERE l_returnflag = '$flag'
           |GROUP BY l_returnflag, l_linestatus""".stripMargin
    ).map { case (name, template) =>
      val sparkSql = bind(template, Map("orders" -> s"$cat.tables.orders",
        "orders_v1" -> s"$cat.tables.orders VERSION AS OF 1", "lineitem" -> s"$cat.tables.lineitem"))
      val oracle = bind(template, Map("orders" -> oracleOrders, "orders_v1" -> "orders",
        "lineitem" -> "lineitem"))
      Op(name, "catalog", Some(oracle), id => {
        val df = ctx.probe.span("catalog", "sql", id)(spark.sql(sparkSql))
        val fp = ctx.probe.span("spark", "materialize", id)(HashSink.run(df))
        if (name == "cat_summary_view")
          lastMvHit = SummaryRewrite.scannedPaths(df.queryExecution.optimizedPlan)
            .exists(_.contains("/mv_lineitem"))
        fp
      })
    }
    rng.shuffle(gateOps ++ sqlOps)
  }

  @volatile private var lastMvHit = false

  override def lakeBytes: Long = Storage.bytesUnder(root)

  override def info(op: Op): Map[String, Any] =
    if (op.name == "cat_summary_view") Map("mv_hit" -> lastMvHit) else Map.empty

  private def oracleOrders: String =
    s"(SELECT * FROM orders WHERE o_orderkey NOT BETWEEN ${deleted._1} AND ${deleted._2})"

  private def bind(template: String, tables: Map[String, String]): String =
    tables.foldLeft(template) { case (s, (k, v)) => s.replace(s"{$k}", v) }
}

object StarQuery {
  val MvName = "perfbench_lineitem_flags"
  /** Exact-duplicate groups over the document corpus, the one `graft.ext`
    * call on the read path.
    */
  val ExtGates: Seq[String] = Seq("x_dedup_exact_groups")
  val GateNames: Seq[String] = (1 to 22).map(i => s"q_tpch_q$i") ++ Seq(
    "b1_flatten", "b2_blacklist", "b3_anonymize", "b4_user_summary", "b5_user_summary_eur",
    "b6_payment_totals", "b7_product_counts", "b8_dim_lookup", "b8_fk_orphans",
    "b9_latest_per_key", "b9_latest_by_offset", "b4_sql_surface", "b10_rename") ++ ExtGates
}
