package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, DynamicPruningExpression}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.operators.TableMerge

/** `lakehouse_reads`: graft tables built through the SQL surface (CTAS,
  * OPTIMIZE … ZORDER BY, a seeded MERGE INTO version), TPC-H-ish fact and
  * dimension tables and a gold star; each op is one seeded read query.
  * Nothing commits during the timed phase. Every answer is compared, by
  * order-independent digest, with the same SQL run by vanilla
  * `spark.read.parquet` over a plain copy of the snapshot it reads.
  *
  * The tables copy the sf0.1 testdata's recorded shapes (`Shapes`): events
  * at the sf0.1 size, with its per-user frequencies, event types, values
  * and days; the TPC-H tables at `tpchShare` of the sf0.1 customers, with
  * its orders per customer, lines per order, nation and segment counts and
  * price, quantity, discount and date distributions. Query keys are drawn
  * from the generated columns themselves, so they follow the data. */
final class Reads(shapes: Shapes, tpchShare: Double, nDocs: Int) extends Workload {
  /** One set-up: its cold run alone is ~30 s (see README.md). */
  val setups = 1
  val warmupSeconds = 5.0
  /** The loop ends on a whole round of the six templates. */
  override val opsPerRound = 6
  val Templates = Vector("range_skip", "point_in", "star_join", "topk_per_key", "time_travel",
    "gold_rollup")
  private val nEvents = shapes.rows("events").toInt
  private val EventFiles = 8
  private val nUsers = shapes.table("events").get("user_events").size
  private val nationNames = shapes.table("nation").get("names").elements().asScala
    .map(_.asText).toVector
  private val nationRegions = shapes.table("nation").get("regionkey").elements().asScala
    .map(_.asInt).toVector

  private var dir: File = _
  private var oldVersion = ""
  /** table name → (path, snapshot file count) */
  private val tables = mutable.LinkedHashMap.empty[String, (String, Int)]
  private val expected = mutable.HashMap.empty[String, String]
  private var refsReady = false
  /** The generated key columns the query keys are drawn from. */
  private var evUser: Array[Long] = Array.empty
  private var ordCust: Array[Long] = Array.empty
  private var ordDay: Array[Int] = Array.empty
  private var custNation: Array[Int] = Array.empty

  private def path(n: String) = new File(dir, n).getPath
  private def graftRef(n: String): String =
    if (n == "events_old") s"graft.`${path("events")}@$oldVersion`" else s"graft.`${path(n)}`"
  /** Table references a template reads. */
  private val reads = Map(
    "range_skip" -> Seq("events"), "point_in" -> Seq("events"),
    "star_join" -> Seq("lineitem", "orders", "customer", "nation"),
    "topk_per_key" -> Seq("orders"), "time_travel" -> Seq("events_old"),
    "gold_rollup" -> Seq("dim_resources", "dim_sources", "dim_languages"))

  private def pick[T](r: java.util.SplittableRandom, xs: Array[T]): T = xs(r.nextInt(xs.length))

  /** The generated tables as temp views `gen_<table>`. */
  private def generate(s: SparkSession, seed: Long): Unit = {
    import s.implicits._
    val g = Reads.generate(shapes, tpchShare, seed)
    evUser = g.events.map(_._2).toArray
    ordCust = g.orders.map(_._2).toArray
    ordDay = g.orders.map(_._3).toArray
    custNation = g.customers.map(_._2).toArray
    g.events.toDF("event_id", "user_id", "event_type", "value_e2", "d")
      .selectExpr("event_id", "user_id", "event_type", "value_e2",
        "date_add(DATE'2024-01-01', d) AS day")
      // 8 files per event type: ZORDER keeps each partition's file count,
      // so this sets how finely the per-file stats can skip
      .repartition(EventFiles).createOrReplaceTempView("gen_events")
    g.orders.toDF("o_orderkey", "o_custkey", "d", "o_totalprice_e2")
      .selectExpr("o_orderkey", "o_custkey", "date_add(DATE'1970-01-01', d) AS o_orderdate",
        "o_totalprice_e2").createOrReplaceTempView("gen_orders")
    g.lineitem.toDF("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_price_e2",
      "l_discount_pct").createOrReplaceTempView("gen_lineitem")
    g.customers.toDF("c_custkey", "c_nationkey", "c_mktsegment")
      .createOrReplaceTempView("gen_customer")
    nationNames.indices.map(k => (k, nationNames(k), nationRegions(k)))
      .toDF("n_nationkey", "n_name", "n_regionkey").createOrReplaceTempView("gen_nation")
  }

  def setup(ctx: Ctx, d: File): String = {
    dir = d
    tables.clear(); expected.clear(); refsReady = false
    val s = ctx.spark
    generate(s, ctx.seed)
    val ev = path("events")
    val (_, ctas) = ctx.timed(s.sql(s"CREATE TABLE graft.`$ev` PARTITIONED BY (event_type) " +
      "AS SELECT * FROM gen_events"))
    val (_, zo) = ctx.timed(s.sql(s"OPTIMIZE graft.`$ev` ZORDER BY (user_id, value_e2)"))
    oldVersion = TableMerge.liveVersion(ev).get
    val lo = pick(Gen.rng(ctx.seed, 7L), evUser)
    val (_, mi) = ctx.timed(s.sql(
      s"""MERGE INTO graft.`$ev` t USING (
         |  SELECT event_id, user_id, event_type, value_e2 * 2 AS value_e2, day
         |  FROM gen_events WHERE event_type = 'click' AND user_id BETWEEN $lo AND ${lo + 6}
         |  UNION ALL
         |  SELECT id + $nEvents AS event_id, id % $nUsers AS user_id,
         |    'click' AS event_type, id AS value_e2, DATE'2024-02-01' AS day
         |  FROM range(${nEvents / 100})) src
         |ON t.event_type = src.event_type AND t.event_id = src.event_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    val (_, ctas2) = ctx.timed(Seq("lineitem", "orders", "customer", "nation").foreach { t =>
      s.sql(s"CREATE TABLE graft.`${path(t)}` AS SELECT * FROM gen_$t")
    })
    // whether Spark's own runtime filters could fire (the ROADMAP runtime-filter item)
    Seq("spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled").foreach { k =>
      ctx.info(k) = s.conf.getOption(k).getOrElse("unset")
    }
    ctx.layer("merge.ctas_s") = ctas + ctas2
    ctx.layer("merge.zorder_s") = zo
    ctx.layer("merge.merge_into_s") = mi
    goldStar(ctx)
    (Seq("events", "lineitem", "orders", "customer", "nation") ++
      Seq("dim_resources", "dim_sources", "dim_languages")).foreach { n =>
      tables(n) = (path(n), DiskLedger.live(new File(path(n)))._2)
    }
    tables("events_old") =
      (path("events"), DiskLedger.snapshot(new File(path("events")), oldVersion)._2)
    val names = Seq("events", "lineitem", "orders", "customer", "nation", "resources", "chunks")
    Gen.digest(s.sql(names.map(t =>
      s"SELECT '$t' AS t, sum(CAST(xxhash64(*) AS DECIMAL(38, 0))) AS h FROM gen_$t")
      .mkString(" UNION ALL ")).collect().map(_.mkString(":")).sorted.iterator)
  }

  /** The gold star: GoldAnalytics over silver-shaped resources and chunks,
    * the dimensions the rollup reads written with TableMerge. */
  private def goldStar(ctx: Ctx): Unit = {
    val s = ctx.spark
    def u(salt: Int) = s"(pmod(xxhash64(id, ${ctx.seed}L, $salt), 1000003) / 1000003.0D)"
    s.range(nDocs).selectExpr("sha2(CAST(id AS STRING), 256) AS resource_uid",
      "CAST(id AS STRING) AS resource_id", "concat('src', id % 20) AS source_system",
      s"element_at(array('en', 'en', 'zh', 'es', 'fr', 'de'), " +
        s"CAST(${u(41)} * 6 AS INT) + 1) AS language",
      s"concat('title ', id) AS title",
      s"timestamp_seconds(1767225600 + CAST(${u(42)} * 86400 * 30 AS BIGINT)) AS scraped_at")
      .createOrReplaceTempView("gen_resources")
    s.range(nDocs * 4L).selectExpr("sha2(CAST(id DIV 4 AS STRING), 256) AS resource_uid",
      "concat('c', id) AS chunk_id", s"CAST(${u(43)} * 500 AS BIGINT) + 20 AS token_count")
      .createOrReplaceTempView("gen_chunks")
    val resources = s.table("gen_resources")
    val subjects = s.range(1, 3).selectExpr("CAST(id AS INT) AS subject_id",
      "concat('subject ', id) AS subject_name")
    val matches = resources.selectExpr("resource_uid",
      "CAST(length(title) % 2 + 1 AS INT) AS subject_id", "0.9D AS similarity")
    val gold = graft.gold.GoldAnalytics.buildAll(s, resources, s.table("gen_chunks"), subjects,
      matches, resources.selectExpr("to_date(scraped_at) AS dt"))
    Seq("dim_resources", "dim_sources", "dim_languages").foreach { n =>
      TableMerge.createOrReplace(gold(n), path(n))
    }
  }

  /** Plain copies of every snapshot the templates read, as temp views. */
  private def plainRefs(ctx: Ctx): Unit = if (!refsReady) {
    val plain = new File(dir, "plain")
    tables.foreach { case (n, (p, _)) =>
      val v = if (n == "events_old") oldVersion else TableMerge.liveVersion(p).get
      DiskLedger.plainCopy(new File(p), v, new File(plain, n))
      ctx.spark.read.parquet(new File(plain, n).getPath).createOrReplaceTempView(s"ref_$n")
    }
    refsReady = true
  }

  private def sql(template: String, r: java.util.SplittableRandom, t: String => String): String =
    template match {
      case "range_skip" =>
        val a = pick(r, evUser)
        s"SELECT count(*) AS n, sum(value_e2) AS v, min(event_id) AS lo FROM ${t("events")} " +
          s"WHERE user_id BETWEEN $a AND ${a + 3}"
      case "point_in" =>
        val keys = Seq.fill(8)(pick(r, evUser)).mkString(", ")
        s"SELECT event_type, count(*) AS n, sum(value_e2) AS v FROM ${t("events")} " +
          s"WHERE user_id IN ($keys) GROUP BY event_type"
      case "star_join" =>
        val nation = nationNames(pick(r, custNation))
        val day = pick(r, ordDay)
        s"""SELECT n.n_name, count(*) AS n,
           |  sum(l.l_price_e2 * (100 - l.l_discount_pct)) AS revenue
           |FROM ${t("lineitem")} l
           |JOIN ${t("orders")} o ON l.l_orderkey = o.o_orderkey
           |JOIN ${t("customer")} c ON o.o_custkey = c.c_custkey
           |JOIN ${t("nation")} n ON c.c_nationkey = n.n_nationkey
           |WHERE n.n_name = '$nation'
           |  AND o.o_orderdate >= date_add(DATE'1970-01-01', $day)
           |  AND o.o_orderdate < date_add(DATE'1970-01-01', ${day + 90})
           |GROUP BY n.n_name""".stripMargin
      case "topk_per_key" =>
        val a = pick(r, ordCust)
        s"""SELECT o_custkey, o_orderkey, o_totalprice_e2 FROM (
           |  SELECT o_custkey, o_orderkey, o_totalprice_e2, row_number() OVER (
           |    PARTITION BY o_custkey ORDER BY o_totalprice_e2 DESC, o_orderkey) AS rn
           |  FROM ${t("orders")} WHERE o_custkey BETWEEN $a AND ${a + 100}) ranked
           |WHERE rn <= 3""".stripMargin
      case "time_travel" =>
        val a = pick(r, evUser)
        s"SELECT event_type, count(*) AS n, sum(value_e2) AS v FROM ${t("events_old")} " +
          s"WHERE user_id BETWEEN $a AND ${a + 30} GROUP BY event_type"
      case "gold_rollup" =>
        val lang = Gen.Langs(r.nextInt(Gen.Langs.size))
        s"""SELECT r.source_system, count(*) AS n, sum(r.n_chunks) AS chunks,
           |  sum(r.total_tokens) AS tokens
           |FROM ${t("dim_resources")} r
           |JOIN ${t("dim_sources")} s ON r.source_system = s.source_code
           |JOIN ${t("dim_languages")} g ON r.language = g.language_code
           |WHERE g.language_code = '$lang'
           |GROUP BY r.source_system""".stripMargin
    }

  private def template(seed: Long, i: Int): String = {
    // a seeded order of the six templates in each round of six ops
    val round = Gen.rng(seed, 500000L + i / Templates.size)
    val order = Templates.indices.toArray
    for (k <- order.length - 1 to 1 by -1) {
      val j = round.nextInt(k + 1); val x = order(k); order(k) = order(j); order(j) = x
    }
    Templates(order(i % Templates.size))
  }

  private def digestOf(df: DataFrame): (String, Long) = {
    val rows = df.collect().map(_.mkString("|")).toSeq
    (Checks.rowsDigest(rows), rows.size.toLong)
  }

  def op(ctx: Ctx, i: Int): OpResult = {
    val tmpl = template(ctx.seed, i)
    val r = Gen.rng(ctx.seed, 600000L + i)
    val q = sql(tmpl, r, graftRef)
    val t = ctx.tracer
    val ((got, _), rows) = t.span(s"sql.$tmpl", "sql") {
      val df = t.span("sql.analyze", "sql")(ctx.spark.sql(q))
      if (t.enabled) t.span("sql.plan", "sql")(df.queryExecution.executedPlan)
      val out = t.span("sql.exec", "sql")(digestOf(df))
      if (t.enabled) planStats(ctx, tmpl, df, out._2)
      (out, Plans.scanRows(df.queryExecution.executedPlan))
    }
    OpResult(tmpl, rows,
      () => Checks.readAnswer(tmpl, got, expectedFor(ctx, tmpl, Gen.rng(ctx.seed, 600000L + i))))
  }

  private def expectedFor(ctx: Ctx, tmpl: String, r: java.util.SplittableRandom): String = {
    val q = sql(tmpl, r, n => s"ref_$n")
    expected.getOrElseUpdate(q, { plainRefs(ctx); digestOf(ctx.spark.sql(q))._1 })
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = collectWithSubqueries(p) {
      case s: FileSourceScanExec => s }
    /** Rows the file scans of an executed plan output, after file and
      * row-group skipping. */
    def scanRows(p: SparkPlan): Long =
      scans(p).map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
    def runtimeFilters(p: SparkPlan): Int = collectWithSubqueries(p) { case n => n }
      .map(_.expressions.map(_.collect {
        case _: BloomFilterMightContain => 1
        case _: DynamicPruningExpression => 1
      }.size).sum).sum
  }

  private def planStats(ctx: Ctx, tmpl: String, df: DataFrame, rowsOut: Long): Unit = {
    val plan = df.queryExecution.executedPlan
    val scans = Plans.scans(plan)
    val files = scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    val scanned = Plans.scanRows(plan)
    val total = reads(tmpl).map(n => tables(n)._2).sum
    ctx.add("sql.files_scanned", files.toDouble)
    ctx.add("sql.files_total", total.toDouble)
    ctx.add("sql.rows_out", rowsOut.toDouble)
    ctx.add("sql.rows_scanned", scanned.toDouble)
    if (tmpl == "star_join") {
      ctx.add("sql.runtime_filters", Plans.runtimeFilters(plan).toDouble)
      ctx.add("sql.star_join_ops", 1)
    }
  }
}

object Reads {
  /** Generated rows. Events: (event_id, user_id, event_type, value_e2,
    * day offset); orders: (o_orderkey, o_custkey, epoch day,
    * o_totalprice_e2); lineitem: (l_orderkey, l_linenumber, l_partkey,
    * l_quantity, l_price_e2, l_discount_pct); customers: (c_custkey,
    * c_nationkey, c_mktsegment). Money is in integer cents. */
  final case class Tables(events: Vector[(Long, Long, String, Long, Int)],
                          orders: Vector[(Long, Long, Int, Long)],
                          lineitem: Vector[(Long, Int, Long, Long, Long, Long)],
                          customers: Vector[(Long, Int, String)])

  private def cents(x: Double): Long = math.round(x * 100)

  /** The tables of one seed, drawn from the sf0.1 shapes: events at the
    * sf0.1 size; customers at `tpchShare` of sf0.1, each with an order
    * count drawn from sf0.1's orders per customer, and each order with a
    * line count drawn from its lines per order. */
  def generate(shapes: Shapes, tpchShare: Double, seed: Long): Tables = {
    val r = Gen.rng(seed, 3L)
    val users = shapes.hist("events", "user_events")
    val types = shapes.hist("events", "event_type")
    val value = shapes.quantiles("events", "value")
    val day = shapes.quantiles("events", "day")
    val events = Vector.tabulate(shapes.rows("events").toInt)(i =>
      (i.toLong, users.drawLong(r), types.draw(r), cents(value.draw(r)), day.draw(r).toInt))

    val nCust = math.round(shapes.rows("customer") * tpchShare).toInt
    val perCustomer = shapes.hist("orders", "orders_per_customer")
    val custOfOrder = Array.tabulate(nCust)(c => Array.fill(perCustomer.drawLong(r).toInt)(c.toLong))
      .flatten
    for (k <- custOfOrder.length - 1 to 1 by -1) {
      val j = r.nextInt(k + 1); val x = custOfOrder(k); custOfOrder(k) = custOfOrder(j)
      custOfOrder(j) = x
    }
    val price = shapes.quantiles("orders", "totalprice")
    val date = shapes.quantiles("orders", "orderdate_day")
    val orders = custOfOrder.toVector.zipWithIndex.map { case (c, k) =>
      (k.toLong, c, date.draw(r).toInt, cents(price.draw(r))) }

    val nParts = math.round(shapes.table("lineitem").get("parts").asLong * tpchShare).toInt
    val lines = shapes.hist("lineitem", "lines_per_order")
    val qty = shapes.hist("lineitem", "quantity")
    val disc = shapes.hist("lineitem", "discount_pct")
    val ext = shapes.quantiles("lineitem", "extendedprice")
    val lineitem = orders.flatMap { o =>
      (1 to lines.drawLong(r).toInt).map(l => (o._1, l, r.nextInt(nParts).toLong,
        qty.drawLong(r), cents(ext.draw(r)), disc.drawLong(r)))
    }

    val nation = shapes.hist("customer", "nationkey")
    val segment = shapes.hist("customer", "mktsegment")
    val customers = Vector.tabulate(nCust)(c => (c.toLong, nation.drawLong(r).toInt, segment.draw(r)))
    Tables(events, orders, lineitem, customers)
  }
}
