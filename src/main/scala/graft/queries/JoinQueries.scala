package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.graftbridge.Bridge
import graft.core.{Num, Plans, Tables}

/** Join-shape queries (SURVEY §2.3). The reference's only joins are
  * nested loops over in-memory lists; here each gets the right Spark
  * physical shape: broadcast for dims, semi/anti for existence
  * (the invalidator filter P12 is semantically an anti-join).
  */
object JoinQueries extends graft.QueryModule {

  /** Star join: revenue per nation. Dims broadcast — the fact table
    * shuffles only for the lineitem x orders equi-join. */
  def qJoinStar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(s, dir)), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(Num.cents($"l_extendedprice" * (lit(1.0) - $"l_discount")))
          .as("revenue_c"))
      .orderBy($"n_name")
  }

  val qJoinStarSql: String =
    s"""SELECT n_name, count(*) AS n_lines,
       |  ${Num.sumSql(Num.centsSql("l_extendedprice*(1.0-l_discount)"))}
       |    AS revenue_c
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Semi + anti join: per market segment, customers with and without
    * orders. */
  def qJoinSemiAnti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
    val ord = Tables.orders(s, dir)
    val active = cust.join(ord, $"c_custkey" === $"o_custkey", "left_semi")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n_active"))
    val inactive = cust.join(ord, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n_inactive"))
    active.join(inactive, Seq("c_mktsegment"), "full_outer")
      .na.fill(0L, Seq("n_active", "n_inactive"))
      .orderBy($"c_mktsegment")
  }

  val qJoinSemiAntiSql: String =
    """SELECT c_mktsegment,
      |  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM orders
      |    WHERE o_custkey = c_custkey) THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_active,
      |  CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM orders
      |    WHERE o_custkey = c_custkey) THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_inactive
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Product-side star: revenue by part brand × supplier nation —
    * the lineitem fact against BOTH its product dimensions (part,
    * supplier→nation), all broadcast, with the aggregate partial
    * map-side. Covers the two fixture tables no other entry touches;
    * at cluster scale the fact never shuffles before the group-by
    * exchange, whose volume is O(brands × nations). */
  def qPartsSupplier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_partkey", $"l_suppkey",
        Num.cents($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev_c"))
      .join(broadcast(Tables.part(s, dir).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .join(broadcast(Tables.supplier(s, dir).select($"s_suppkey", $"s_nationkey")),
        $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(s, dir).select($"n_nationkey", $"n_name")),
        $"s_nationkey" === $"n_nationkey")
      .groupBy($"p_brand", $"n_name".as("supp_nation"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum($"rev_c").as("revenue_c"))
      .orderBy($"p_brand", $"supp_nation")
  }

  val qPartsSupplierSql: String =
    s"""SELECT p_brand, n_name AS supp_nation, count(*) AS n_lines,
       |  ${Num.sumSql(Num.centsSql("l_extendedprice*(1.0-l_discount)"))}
       |    AS revenue_c
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |GROUP BY p_brand, n_name ORDER BY p_brand, supp_nation""".stripMargin

  /** CO-LOCATED bucketed join — the other shuffle-elimination class a
    * 100 TB star lives by (runtime partition pruning being
    * `q_partition_prune`): both fact tables land `bucketBy(8, key)` +
    * `sortBy(key)` once, and every subsequent equi-join on that key
    * consumes the bucketed layout with ZERO exchange on either side —
    * the one-time write cost is amortized across every downstream
    * join, exactly how a nightly-joined fact pair should be stored.
    * The entry REQUIRES the shuffle-free shape in its own physical
    * plan (an equi-join present, no ShuffleExchange anywhere beneath
    * it), so a co-location regression fails the correctness gate.
    * Tables register in the session's in-memory catalog with an
    * explicit external path under the scratch root — no warehouse
    * directory is touched, repeated runs drop and re-create. */
  def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = StreamQueries.scratch(s, "bkt")
    s.sql("DROP TABLE IF EXISTS graft_bkt_orders")
    s.sql("DROP TABLE IF EXISTS graft_bkt_lineitem")
    Tables.orders(s, dir).select($"o_orderkey", $"o_orderpriority")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$tmp/orders").saveAsTable("graft_bkt_orders")
    Tables.lineitem(s, dir).select($"l_orderkey",
        Num.cents($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev_c"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$tmp/lineitem").saveAsTable("graft_bkt_lineitem")
    // MERGE hint: at fixture scale Catalyst would broadcast instead
    // (hiding the layout question entirely); production fact-fact
    // joins are exactly the ones too big to broadcast, and the hint
    // pins that shape so the bucket co-location is what's under test
    val out = s.table("graft_bkt_orders").hint("merge")
      .join(s.table("graft_bkt_lineitem"), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_lines"), sum($"rev_c").as("revenue_c"))
      .orderBy($"o_orderpriority")
    val joins = out.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    require(joins.nonEmpty, "expected a shuffle-class equi-join in the plan")
    val shuffled = joins.exists(_.collectFirst {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.isDefined)
    require(!shuffled,
      "bucketed join still shuffles an input — co-location regressed")
    out
  }

  val qBucketedJoinSql: String =
    s"""SELECT o_orderpriority, count(*) AS n_lines,
       |  ${Num.sumSql(Num.centsSql("l_extendedprice*(1.0-l_discount)"))}
       |    AS revenue_c
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** RUNTIME BLOOM-FILTER join pruning (the third shuffle-reduction
    * class beside DPP and bucketing): a selective dimension filter
    * (urgent orders, 1/5th of the table) makes Catalyst build a bloom
    * filter over the surviving join keys and inject a
    * `might_contain` probe into the FACT side BELOW its shuffle — at
    * 100 TB that's ~80% of the fact rows dropped before they are
    * hashed, serialized and shuffled, paid for with one xxhash probe
    * per row inside the scan stage's codegen span. The entry REQUIRES
    * the injected filter in the physical plan of the frame it returns
    * (a regression fails the correctness gate). Its confs are set on
    * its own fork of the caller's session, so the returned frame
    * re-plans under them whenever it runs; broadcast is pinned off
    * because fact-fact joins are exactly the ones too big to
    * broadcast (the `q_bucketed_join` argument).
    *
    * Oracle: the plain filtered join — the bloom filter is a pure
    * pass-through optimization (false positives only ever ADMIT rows
    * the join then drops), so the result must be bit-identical. */
  def qRuntimeFilter(s: SparkSession, dir: String): DataFrame = {
    val f = Bridge.cloneSession(s)
    Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      .foreach { case (k, v) => f.conf.set(k, v) }
    val out = runtimeFilterJoin(f, dir)
    require(hasRuntimeBloomFilter(out.queryExecution.executedPlan),
      "runtime bloom filter missing from the join plan")
    out
  }

  /** [[qRuntimeFilter]]'s join under `f`'s confs, unchecked. */
  private[graft] def runtimeFilterJoin(f: SparkSession,
      dir: String): DataFrame = {
    import f.implicits._
    val li = Tables.lineitem(f, dir).select($"l_orderkey",
      Num.cents($"l_quantity").as("qty_c"))
    val ord = Tables.orders(f, dir)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey", $"o_orderstatus")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_lines"), sum($"qty_c").as("qty_sum_c"))
      .orderBy($"o_orderstatus")
  }

  /** `plan` probes a runtime bloom filter: some node holds the
    * `might_contain` Spark injects (its filter is built by a
    * `bloom_filter_agg` subquery). */
  private[graft] def hasRuntimeBloomFilter(plan: SparkPlan): Boolean =
    Plans.expressions(plan).exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain])

  val qRuntimeFilterSql: String =
    s"""SELECT o_orderstatus, count(*) AS n_lines,
       |  ${Num.sumSql(Num.centsSql("l_quantity"))} AS qty_sum_c
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderpriority = '1-URGENT'
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** SALTED JOIN under the oracle ([[graft.ops.Salting.saltedJoin]] —
    * the explicit skew lever for the case AQE cannot re-plan): the
    * fact side's 5-value event_type key is the textbook hot-key shape
    * (every key is a monster key); the salt spreads each over 8
    * reducers while the small side replicates once per salt. The
    * oracle is the PLAIN join — salting is a pure pass-through
    * rewrite, so the result must be bit-identical; the entry also
    * REQUIRES the executed join to really key on the salt (no
    * silent de-salting by the optimizer). */
  def qSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    // broadcast pinned OFF on the entry's own fork: a broadcast hash
    // join never shuffles the fact side on (key, salt), so the
    // skew-spreading this entry documents would not actually execute
    // — the salt must reach a SHUFFLE join's keys
    val f = Bridge.cloneSession(s)
    import f.implicits._
    f.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val ev = Tables.events(f, dir)
      .select($"event_type", $"event_id", Num.cents($"value").as("value_c"))
    // slim dim derived from the same corpus: per-type weight
    val dim = ev.select($"event_type").distinct()
      .withColumn("weight", length($"event_type").cast("long"))
    val joined = graft.ops.Salting.saltedJoin(
      ev, dim, "event_type", saltFrom = $"event_id", salts = 8)
    val out = joined.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value_c" * $"weight").as("weighted_c"))
      .orderBy($"event_type")
    // sparkPlan, not executedPlan: AQE's adaptive wrapper hides the
    // join from a naive collect until execution
    val joins = out.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    require(joins.exists(j => j.leftKeys.size >= 2 &&
        !j.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "salted join must keep (key, salt) on a SHUFFLE-class join")
    out
  }

  val qSaltedJoinSql: String =
    s"""WITH d AS (SELECT DISTINCT event_type,
       |             CAST(length(event_type) AS BIGINT) AS weight
       |           FROM events),
       |ev AS (SELECT event_type, ${Num.centsSql("value")} AS value_c
       |       FROM events)
       |SELECT ev.event_type, count(*) AS n,
       |  ${Num.sumSql("value_c * weight")} AS weighted_c
       |FROM ev JOIN d ON ev.event_type = d.event_type
       |GROUP BY ev.event_type ORDER BY ev.event_type""".stripMargin

  def entries: Map[String, (Run, String)] = Map(
    "q_join_star" -> (qJoinStar _, qJoinStarSql),
    "q_join_semi_anti" -> (qJoinSemiAnti _, qJoinSemiAntiSql),
    "q_parts_supplier" -> (qPartsSupplier _, qPartsSupplierSql),
    "q_bucketed_join" -> (qBucketedJoin _, qBucketedJoinSql),
    "q_runtime_filter" -> (qRuntimeFilter _, qRuntimeFilterSql),
    "q_salted_join" -> (qSaltedJoin _, qSaltedJoinSql))
}
