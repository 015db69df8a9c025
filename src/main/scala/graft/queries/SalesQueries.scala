package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.core.Num
import graft.etl.SalesTransform

/** TLQ sales pipeline queries (SURVEY §3.3, §7.2). */
object SalesQueries extends graft.QueryModule {

  private val salesCte: String =
    s"""WITH sales AS (
       |  SELECT l_orderkey AS order_id, l_linenumber AS line_number,
       |    r_name AS region, n_name AS country, o_orderpriority,
       |    CAST(o_orderdate AS DATE) AS order_date,
       |    CAST(l_shipdate AS DATE) AS ship_date,
       |    ${Num.centsSql("l_extendedprice")} AS revenue_c,
       |    ${Num.centsSql("l_extendedprice*(1.0-l_discount)")} AS cost_c,
       |    ${Num.centsSql("l_quantity")} AS units_c
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey),
       |dedup AS (
       |  SELECT *, row_number() OVER (PARTITION BY order_id
       |    ORDER BY line_number, ship_date, revenue_c, cost_c, units_c) AS rn
       |  FROM sales),
       |transformed AS (
       |  SELECT order_id, region, country, order_date,
       |    ${SalesTransform.recodePrioritySql} AS order_priority,
       |    (revenue_c - cost_c) / revenue_c AS gross_margin,
       |    datediff('day', order_date, ship_date) AS processing_days,
       |    COALESCE(CAST(datediff('day', order_date, ship_date) AS VARCHAR),
       |             'INVALID DATE') AS processing_time,
       |    revenue_c, cost_c, units_c
       |  FROM dedup WHERE rn = 1)""".stripMargin

  /** S1+P1-P5+P18 end-to-end Transform output. */
  def qSalesTransform(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    SalesTransform.transformed(s, dir)
      .select($"order_id", $"region", $"country", $"order_priority",
        $"gross_margin", $"processing_days", $"processing_time",
        $"revenue_c")
      .orderBy($"order_id")
  }

  val qSalesTransformSql: String =
    s"""$salesCte
       |SELECT order_id, region, country, order_priority, gross_margin,
       |  processing_days, processing_time, revenue_c
       |FROM transformed ORDER BY order_id""".stripMargin

  /** SURVEY §7.2 flagship: region rollup over the transformed table.
    * Margin is aggregated as Σ(rev-cost)/Σrev on exact cents — one
    * IEEE division, oracle-stable. */
  def qSalesReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    SalesTransform.transformed(s, dir)
      .groupBy($"region")
      .agg(
        count(lit(1)).as("n_orders"),
        sum($"units_c").as("sum_units_c"),
        (sum($"revenue_c" - $"cost_c") / sum($"revenue_c")).as("margin_ratio"))
      .orderBy($"region")
  }

  val qSalesReportSql: String =
    s"""$salesCte
       |SELECT region, count(*) AS n_orders,
       |  ${Num.sumSql("units_c")} AS sum_units_c,
       |  ${Num.sumSql("revenue_c - cost_c")} * 1.0 /
       |    ${Num.sumSql("revenue_c")} AS margin_ratio
       |FROM transformed GROUP BY region ORDER BY region""".stripMargin

  /** SURVEY §7.4.5 Query-stage contract: the TLQ "Q" runs `spark.sql`
    * over the loaded SalesData view (S11 surface), with the filter
    * variants the reference documents — OrderPriority, Region, and
    * order-date range. The view is registered on a fork of the
    * caller's session, so a caller's own `SalesData` stays as it was;
    * the query runs on that fork. */
  private def salesView(s: SparkSession, dir: String): SparkSession = {
    val f = Bridge.cloneSession(s)
    SalesTransform.transformed(f, dir).createOrReplaceTempView("SalesData")
    f
  }

  /** OrderPriority filter + per-priority rollup. */
  def qSalesPriority(s: SparkSession, dir: String): DataFrame = {
    val f = salesView(s, dir)
    f.sql("""SELECT order_priority, count(*) AS n_orders,
            |  sum(revenue_c) AS sum_revenue_c, sum(units_c) AS sum_units_c
            |FROM SalesData
            |WHERE order_priority IN ('Critical', 'High')
            |GROUP BY order_priority ORDER BY order_priority""".stripMargin)
  }

  val qSalesPrioritySql: String =
    s"""$salesCte
       |SELECT order_priority, count(*) AS n_orders,
       |  ${Num.sumSql("revenue_c")} AS sum_revenue_c,
       |  ${Num.sumSql("units_c")} AS sum_units_c
       |FROM transformed
       |WHERE order_priority IN ('Critical', 'High')
       |GROUP BY order_priority ORDER BY order_priority""".stripMargin

  /** Region + order-date-range filter, per-country rollup. */
  def qSalesDateRange(s: SparkSession, dir: String): DataFrame = {
    val f = salesView(s, dir)
    f.sql("""SELECT country, count(*) AS n_orders,
            |  sum(revenue_c) AS sum_revenue_c
            |FROM SalesData
            |WHERE region = 'EUROPE'
            |  AND CAST(order_date AS DATE)
            |    BETWEEN DATE'1996-01-01' AND DATE'1998-12-31'
            |GROUP BY country ORDER BY country""".stripMargin)
  }

  val qSalesDateRangeSql: String =
    s"""$salesCte
       |SELECT country, count(*) AS n_orders,
       |  ${Num.sumSql("revenue_c")} AS sum_revenue_c
       |FROM transformed
       |WHERE region = 'EUROPE'
       |  AND order_date BETWEEN DATE '1996-01-01' AND DATE '1998-12-31'
       |GROUP BY country ORDER BY country""".stripMargin

  def entries: Map[String, (Run, String)] = Map(
    "q_sales_transform" -> (qSalesTransform _, qSalesTransformSql),
    "q_sales_report" -> (qSalesReport _, qSalesReportSql),
    "q_sales_priority" -> (qSalesPriority _, qSalesPrioritySql),
    "q_sales_date_range" -> (qSalesDateRange _, qSalesDateRangeSql))
}
