package perfbench

import java.nio.file.{Files, Path}

import graft.model.{File, FileType, IfExists, MergeConflict, Table}
import graft.ops.{Append, Checks, ExportToFile, LoadFile, LoadOptions, Merge, Transform}
import graft.streaming.StreamingLoad
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import scala.util.Random

/** The reference's own ELT surface, with writes beside reads: load three
  * formats, stream new files in, transform, upsert, append, check, export.
  */
object EltBatch extends Workload {
  val name = "elt_batch"

  private val Customers     = 1500
  private val Orders        = 15000
  private val StreamFiles   = 3
  private val StreamPerFile = 500
  private val MergeChanged  = 1500
  private val MergeNew      = 300
  private val AppendLines   = 6000
  private val Segments      = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Statuses      = Seq("F", "O", "P")
  private val Priorities    = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val ShipModes     = Seq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK")

  private final case class Order(key: Int, cust: Int, status: String, priceCents: Int,
      date: String, priority: String) {
    def csv: String = s"$key,$cust,$status,$priceCents,$date,$priority"
  }
  private final case class Line(order: Int, number: Int, qty: Int, extendedCents: Int,
      discountPct: Int, shipDate: String, shipMode: String) {
    def revenue: Long = extendedCents.toLong * (100 - discountPct)
  }

  /** Ground truth, recomputed by plain folds over the generated rows. */
  private final case class Truth(
      revenue: Map[(String, Int), (Long, Long)], // (segment, year) -> (lines, revenue)
      streamRows: Long,
      ordersAfterMerge: Long, priceAfterMerge: Long, statusFAfterMerge: Long,
      linesAfterAppend: Long, extendedAfterAppend: Long,
      mergeBytes: Long, appendBytes: Long)
  @volatile private var truth: Truth = _

  private def date(r: Random): String =
    java.time.LocalDate.of(1992, 1, 1).plusDays(r.nextInt(2400).toLong).toString

  private def order(r: Random, key: Int): Order =
    Order(key, 1 + r.nextInt(Customers), Statuses(r.nextInt(3)), 100 + r.nextInt(50000000),
      date(r), Priorities(r.nextInt(5)))

  def generate(spark: SparkSession, dir: Path, seed: Long): Long = {
    val r = new Random(seed * 7919L + 11)
    val customers = (1 to Customers).map(k =>
      (k, f"Customer#$k%09d", r.nextInt(25), r.nextInt(1100000) - 100000, Segments(r.nextInt(5))))
    val orders   = (1 to Orders).map(order(r, _))
    val streamed = (Orders + 1 to Orders + StreamFiles * StreamPerFile).map(order(r, _))
    def lines(o: Order): Seq[Line] = (1 to 1 + r.nextInt(7)).map(n =>
      Line(o.key, n, 1 + r.nextInt(50), 100 + r.nextInt(1000000), r.nextInt(11), date(r),
        ShipModes(r.nextInt(5))))
    val lineitems = (orders ++ streamed).flatMap(lines)
    val changed = r.shuffle((1 to Orders).toVector).take(MergeChanged).sorted.map { k =>
      order(r, k).copy(cust = orders(k - 1).cust) }
    val fresh    = (1 to MergeNew).map(i => order(r, Orders + StreamFiles * StreamPerFile + i))
    val appended = (1 to AppendLines).map(i => lines(orders(r.nextInt(Orders))).head.copy(number = 100 + i))

    val header = "o_orderkey,o_custkey,o_orderstatus,o_totalprice_cents,o_orderdate,o_orderpriority"
    Files.write(dir.resolve("orders.csv"), (header +: orders.map(_.csv)).mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.createDirectories(dir.resolve("stream"))
    streamed.grouped(StreamPerFile).zipWithIndex.foreach { case (batch, i) =>
      Files.write(dir.resolve(s"stream/batch-$i.csv"),
        (header +: batch.map(_.csv)).mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val ndjson = lineitems.map(l =>
      s"""{"l_orderkey":${l.order},"l_linenumber":${l.number},"l_quantity":${l.qty},""" +
        s""""price":{"extended_cents":${l.extendedCents},"discount_pct":${l.discountPct}},""" +
        s""""ship":{"date":"${l.shipDate}","mode":"${l.shipMode}"}}""")
    Files.write(dir.resolve("lineitem.ndjson"), ndjson.mkString("", "\n", "\n").getBytes("UTF-8"))

    val custSchema = StructType(Seq(StructField("c_custkey", IntegerType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal_cents", IntegerType),
      StructField("c_mktsegment", StringType)))
    Gen.parquet(spark, dir.resolve("customer.parquet"), custSchema,
      customers.map { case (a, b, c, d, e) => Row(a, b, c, d, e) }, 2)
    val orderSchema = StructType(Seq(StructField("o_orderkey", IntegerType),
      StructField("o_custkey", IntegerType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice_cents", IntegerType), StructField("o_orderdate", StringType),
      StructField("o_orderpriority", StringType)))
    Gen.parquet(spark, dir.resolve("merge.parquet"), orderSchema,
      (changed ++ fresh).map(o => Row(o.key, o.cust, o.status, o.priceCents, o.date, o.priority)), 2)
    val lineSchema = StructType(Seq(StructField("l_orderkey", LongType), StructField("l_linenumber", LongType),
      StructField("l_quantity", LongType), StructField("price_extended_cents", LongType),
      StructField("price_discount_pct", LongType), StructField("ship_date", StringType),
      StructField("ship_mode", StringType)))
    Gen.parquet(spark, dir.resolve("append.parquet"), lineSchema,
      appended.map(l => Row(l.order.toLong, l.number.toLong, l.qty.toLong, l.extendedCents.toLong,
        l.discountPct.toLong, l.shipDate, l.shipMode)), 2)

    val segmentOf = customers.map(c => c._1 -> c._5).toMap
    val orderOf   = (orders ++ streamed).map(o => o.key -> o).toMap
    val revenue = lineitems.groupMapReduce { l =>
      val o = orderOf(l.order); (segmentOf(o.cust), o.date.take(4).toInt)
    }(l => (1L, l.revenue)) { case ((a, b), (c, d)) => (a + c, b + d) }
    val merged = orders.map(o => o.key -> o).toMap ++ (changed ++ fresh).map(o => o.key -> o)
    truth = Truth(revenue, streamed.size.toLong,
      merged.size.toLong, merged.values.map(_.priceCents.toLong).sum,
      merged.values.count(_.status == "F").toLong,
      (lineitems.size + appended.size).toLong,
      (lineitems ++ appended).map(_.extendedCents.toLong).sum,
      Gen.sizeOf(dir.resolve("merge.parquet")), Gen.sizeOf(dir.resolve("append.parquet")))
    (customers.size + orders.size + streamed.size + lineitems.size + changed.size + fresh.size +
      appended.size).toLong
  }

  private val RevenueSql =
    """SELECT c.c_mktsegment AS segment, year(o.o_orderdate) AS yr,
      |       count(*) AS n_lines,
      |       sum(l.price_extended_cents * (100 - l.price_discount_pct)) AS revenue
      |FROM (SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_orderdate FROM {{orders}}
      |      UNION ALL
      |      SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_orderdate FROM {{stream}}) o
      |JOIN {{lineitem}} l ON l.l_orderkey = o.o_orderkey
      |JOIN {{customer}} c ON c.c_custkey = o.o_custkey
      |GROUP BY c.c_mktsegment, year(o.o_orderdate)""".stripMargin

  private val streamSchema = StructType(Seq(StructField("o_orderkey", IntegerType),
    StructField("o_custkey", IntegerType), StructField("o_orderstatus", StringType),
    StructField("o_totalprice_cents", IntegerType), StructField("o_orderdate", DateType),
    StructField("o_orderpriority", StringType)))

  @volatile private var checkResults: Map[String, Boolean] = Map.empty

  private def orderChecks: Map[String, String] = Map(
    "price_positive" -> "o_totalprice_cents > 0",
    "row_count"      -> s"count(*) = ${truth.ordersAfterMerge}",
    "keys_unique"    -> "count(DISTINCT o_orderkey) = count(*)",
  )

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    checkResults = Map.empty
    ctx.step("load_orders", "load", "orders.csv") {
      LoadFile.toTable(spark, File(ctx.input("orders.csv")), Table("orders"))
    }
    ctx.step("load_lineitem", "load", "lineitem.ndjson") {
      LoadFile.toTable(spark, File(ctx.input("lineitem.ndjson")), Table("lineitem"),
        LoadOptions(normalize = true))
    }
    ctx.step("load_customer", "load", "customer.parquet") {
      LoadFile.toTable(spark, File(ctx.input("customer.parquet")), Table("customer"))
    }
    ctx.step("stream_orders", "stream") {
      StreamingLoad.run(spark, File(ctx.input("stream"), Some(FileType.Csv)), streamSchema,
        Table("orders_stream"), ctx.path("checkpoint/orders_stream"))
    }
    ctx.step("transform_revenue", "transform") {
      Transform.toTable(spark, RevenueSql, Table("revenue"), Map("orders" -> Table("orders"),
        "stream" -> Table("orders_stream"), "lineitem" -> Table("lineitem"),
        "customer" -> Table("customer")))
    }
    ctx.step("merge_orders", "write") {
      Merge.mergeDf(spark, LoadFile.toDataFrame(spark, File(ctx.input("merge.parquet"))),
        Table("orders"), Map.empty, Seq("o_orderkey"), MergeConflict.Update)
    }
    ctx.step("append_lineitem", "write") {
      Append.appendDf(spark, LoadFile.toDataFrame(spark, File(ctx.input("append.parquet"))),
        Table("lineitem"))
    }
    ctx.step("check_orders", "transform") {
      checkResults = Checks.checkTable(spark, Table("orders"), orderChecks)
    }
    ctx.step("export_dir", "write") {
      ExportToFile.df(spark, spark.table("revenue"),
        File(ctx.path("export/revenue_parts"), Some(FileType.Parquet)), IfExists.Replace,
        singleFile = false)
    }
    ctx.step("export_file", "write") {
      ExportToFile.df(spark, spark.table("revenue"), File(ctx.path("export/revenue.csv")),
        IfExists.Replace, singleFile = true)
    }
  }

  def check(ctx: Ctx): Verdict = {
    val spark = ctx.spark
    val t     = truth
    val c     = new Checker
    import c.expect

    def revenueOf(df: org.apache.spark.sql.DataFrame): Map[(String, Int), (Long, Long)] =
      df.collect().map(r => (r.getAs[String]("segment"), r.getAs[Number]("yr").intValue) ->
        (r.getAs[Number]("n_lines").longValue, r.getAs[Number]("revenue").longValue)).toMap
    val revenue = Gen.attempt(revenueOf(spark.table("revenue")))
    expect("transform_revenue", revenue.contains(t.revenue), s"revenue differs from the fold")
    val matched = revenue.map(m => t.revenue.count { case (k, v) => m.get(k).contains(v) }).getOrElse(0)

    val streamRows = Gen.attempt(spark.table("orders_stream").count())
    expect("stream_orders", streamRows.contains(t.streamRows), s"stream rows $streamRows != ${t.streamRows}")
    val orders = Gen.attempt(spark.sql(
      "SELECT count(*), sum(o_totalprice_cents), sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) FROM orders")
      .collect()(0))
    expect("merge_orders", orders.exists(o => o.getLong(0) == t.ordersAfterMerge &&
      o.getLong(1) == t.priceAfterMerge && o.getLong(2) == t.statusFAfterMerge),
      s"merged orders $orders differ from the fold")
    val lines = Gen.attempt(spark.sql("SELECT count(*), sum(price_extended_cents) FROM lineitem").collect()(0))
    expect("append_lineitem", lines.exists(l => l.getLong(0) == t.linesAfterAppend &&
      l.getLong(1) == t.extendedAfterAppend), s"appended lineitem $lines differs from the fold")
    expect("check_orders", checkResults == orderChecks.keys.map(_ -> true).toMap,
      s"table checks returned $checkResults")
    val parts = Gen.attempt(revenueOf(spark.read.parquet(ctx.path("export/revenue_parts"))))
    expect("export_dir", parts.contains(t.revenue), "exported directory differs from the fold")
    val single = Gen.attempt(revenueOf(spark.read.option("header", "true").option("inferSchema", "true")
      .csv(ctx.path("export/revenue.csv"))))
    expect("export_file", single.contains(t.revenue), "exported file differs from the fold")

    val warehouse = ctx.out.getParent.resolve("warehouse")
    val revenueBytes = Gen.sizeOf(warehouse.resolve("revenue"))
    val files = Seq(warehouse.resolve("orders"), warehouse.resolve("lineitem"),
      ctx.out.resolve("export")).map(Gen.dataFiles).sum
    c.facts ++= Map(
      "merge_orders" -> Map("user_bytes" -> t.mergeBytes.toDouble, "files" -> files.toDouble),
      "append_lineitem" -> Map("user_bytes" -> t.appendBytes.toDouble),
      "export_dir" -> Map("user_bytes" -> revenueBytes.toDouble),
      "export_file" -> Map("user_bytes" -> revenueBytes.toDouble))
    c.found = matched.toLong
    c.planted = t.revenue.size.toLong
    c.verdict
  }
}
