package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.core.Tables

/** Scalar-function surface (SURVEY §2.8 F1-F13): date parse/format
  * round-trip with the reference's lenient `M/d/yyyy` pattern
  * (Transform.java:97), datediff, upper, concat, split, substring,
  * regexp_replace, JSON parse/stringify. All codegen'd built-ins —
  * no UDFs in the hot path.
  */
object ScalarQueries extends graft.QueryModule {

  /** F1/F2/F3/F6/F7/F8/F12/F13 sampler over orders. */
  def qScalarFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dateStr = date_format($"o_orderdate", "M/d/yyyy")
    Tables.orders(s, dir).select(
        $"o_orderkey",
        dateStr.as("date_str"),
        to_date(dateStr, "M/d/yyyy").as("date_back"),
        datediff(to_date(dateStr, "M/d/yyyy"),
          lit("1995-01-01").cast("date")).cast(LongType).as("days_since"),
        upper($"o_orderstatus").as("status_upper"),
        split($"o_orderpriority", "-").getItem(0).as("pri_code"),
        split($"o_orderpriority", "-").getItem(1).as("pri_label"),
        concat($"o_orderstatus", lit(" - "), $"o_orderpriority").as("concat_col"),
        substring($"o_orderpriority", 1, 1).as("pri_first"),
        regexp_replace($"o_orderpriority", "-", "_").as("pri_sanitized"))
      .orderBy($"o_orderkey")
  }

  val qScalarFuncsSql: String =
    """SELECT o_orderkey,
      |  strftime(CAST(o_orderdate AS DATE), '%-m/%-d/%Y') AS date_str,
      |  CAST(strptime(strftime(CAST(o_orderdate AS DATE), '%-m/%-d/%Y'),
      |    '%m/%d/%Y') AS DATE) AS date_back,
      |  datediff('day', DATE '1995-01-01',
      |    CAST(o_orderdate AS DATE)) AS days_since,
      |  upper(o_orderstatus) AS status_upper,
      |  str_split(o_orderpriority, '-')[1] AS pri_code,
      |  str_split(o_orderpriority, '-')[2] AS pri_label,
      |  o_orderstatus || ' - ' || o_orderpriority AS concat_col,
      |  substring(o_orderpriority, 1, 1) AS pri_first,
      |  replace(o_orderpriority, '-', '_') AS pri_sanitized
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** F9/F10: JSON parse + stringify on events.props. */
  def qJson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = get_json_object($"props", "$.k").cast(LongType)
    Tables.events(s, dir).select(
        $"event_id",
        k.as("k"),
        to_json(struct(k.as("k"))).as("js"))
      .orderBy($"event_id")
  }

  val qJsonSql: String =
    """SELECT event_id,
      |  CAST(props->>'k' AS BIGINT) AS k,
      |  CAST(to_json(struct_pack(k := CAST(props->>'k' AS BIGINT)))
      |    AS VARCHAR) AS js
      |FROM events ORDER BY event_id""".stripMargin

  def entries: Map[String, (Run, String)] = Map(
    "q_scalar_funcs" -> (qScalarFuncs _, qScalarFuncsSql),
    "q_json" -> (qJson _, qJsonSql))
}
