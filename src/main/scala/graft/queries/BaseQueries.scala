package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Num, Tables}

/** Core grouped-aggregation queries (SURVEY §2.4 A1-A4, A7, A9).
  *
  * Mirrors the reference's hash group-by + avg/sum/count report engine
  * (reference: test/tools/report_generator.py:261-384) re-expressed as
  * declarative Spark aggregations so Catalyst gets partial (map-side)
  * aggregation and whole-stage codegen for free.
  */
object BaseQueries extends graft.QueryModule {

  /** A1-A4: pricing summary — hash group-by with sum/avg/count.
    * Scale: partial aggregation shuffles only 6 groups; no skew. */
  def q1Agg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(Num.cents($"l_quantity")).as("sum_qty_c"),
        sum(Num.cents($"l_extendedprice")).as("sum_price_c"),
        sum(Num.cents($"l_discount")).as("sum_disc_c"),
        count(lit(1)).as("n_rows"))
      .withColumn("avg_qty", $"sum_qty_c" / $"n_rows")
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q1AggSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${Num.sumSql(Num.centsSql("l_quantity"))} AS sum_qty_c,
       |  ${Num.sumSql(Num.centsSql("l_extendedprice"))} AS sum_price_c,
       |  ${Num.sumSql(Num.centsSql("l_discount"))} AS sum_disc_c,
       |  count(*) AS n_rows,
       |  ${Num.sumSql(Num.centsSql("l_quantity"))} / count(*) AS avg_qty
       |FROM lineitem
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** A7/A9: distinct counts over events. */
  def qCountDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_runs"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"event_type")
  }

  val qCountDistinctSql: String =
    """SELECT event_type, count(*) AS n_runs,
      |  count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  def entries: Map[String, (Run, String)] = Map(
    "q1_agg" -> (q1Agg _, q1AggSql),
    "q_count_distinct" -> (qCountDistinct _, qCountDistinctSql))
}
