package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.graftbridge.Bridge
import graft.core.{Num, Plans, Tables}
import graft.core.CacheScope.Scoped
import graft.ops.{AsofJoin, Cms, Curriculum, Hll, LayoutAudit, Mv, Ols, PageRank, Profile, SnapTable, Upsert}
import graft.report.Overlap
import graft.streaming.CdcStream

/** Remaining SURVEY §2 surface — snapshot delta metrics (P20/P21),
  * histogram (A11), the multi-category report as GROUPING SETS
  * (SURVEY §2.4 note), unfiltered overlap (J1 without overlapFilter),
  * payload multiplication with seeded shuffle (U2) — plus the
  * general-analytics operators a reference user reaches for next:
  * as-of join, column profiling, RANGE-frame rolling windows, pivot,
  * apply-changes merge, sliding event-time windows, exact per-group
  * quantiles plus their bounded-histogram scale path, the
  * oracle-replayable sketches (HyperLogLog distinct, Count-Min
  * frequency), and gzipped-JSONL shard ingest. Every entry is
  * DuckDB-oracle-checked.
  */
object MiscQueries extends graft.QueryModule {

  /** P20/P21: delta metrics between the first and last snapshot per
    * key — `X Delta = X_now - X_start`, runtime = span. */
  def qDeltaMetrics(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("value_c", Num.cents(col("value")))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("value_c"))
    val asc = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val desc = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    ev.withColumn("rn_a", row_number().over(asc))
      .withColumn("rn_d", row_number().over(desc))
      .groupBy(col("user_id"))
      .agg(
        max(when(col("rn_a") === 1, col("value_c"))).as("start_c"),
        max(when(col("rn_d") === 1, col("value_c"))).as("end_c"),
        max(when(col("rn_a") === 1, col("ts_us"))).as("start_us"),
        max(when(col("rn_d") === 1, col("ts_us"))).as("end_us"))
      .select(col("user_id"),
        (col("end_c") - col("start_c")).as("value_delta_c"),
        (col("end_us") - col("start_us")).as("runtime_us"))
      .orderBy(col("user_id"))
  }

  val qDeltaMetricsSql: String =
    s"""WITH o AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |    ${Num.centsSql("value")} AS value_c,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS rn_a,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn_d
       |  FROM events)
       |SELECT user_id,
       |  max(CASE WHEN rn_d = 1 THEN value_c END)
       |    - max(CASE WHEN rn_a = 1 THEN value_c END) AS value_delta_c,
       |  max(CASE WHEN rn_d = 1 THEN ts_us END)
       |    - max(CASE WHEN rn_a = 1 THEN ts_us END) AS runtime_us
       |FROM o GROUP BY user_id ORDER BY user_id""".stripMargin

  /** A11: histogram of event values — fixed-width buckets. */
  def qHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("bucket", floor(col("value") / 33.0).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(Num.cents(col("value"))).as("sum_c"))
      .orderBy(col("bucket"))

  val qHistogramSql: String =
    s"""SELECT CAST(floor(value / 33.0) AS BIGINT) AS bucket,
       |  count(*) AS n, ${Num.sumSql(Num.centsSql("value"))} AS sum_c
       |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin

  /** The multi-category report as one GROUPING SETS pass (SURVEY
    * §2.4: one section per category over the same input). Its view is
    * registered on a fork of the caller's session. */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    val f = Bridge.cloneSession(s)
    Tables.events(f, dir)
      .withColumn("value_c", Num.cents(col("value")))
      .createOrReplaceTempView("ev_gs")
    f.sql(
      """SELECT event_type, user_id, count(*) AS uses,
        |  sum(value_c) AS sum_value_c
        |FROM ev_gs
        |GROUP BY GROUPING SETS ((event_type), (user_id))
        |ORDER BY event_type ASC NULLS FIRST, user_id ASC NULLS FIRST""".stripMargin)
  }

  val qGroupingSetsSql: String =
    s"""SELECT event_type, user_id, count(*) AS uses,
       |  ${Num.sumSql(Num.centsSql("value"))} AS sum_value_c
       |FROM events
       |GROUP BY GROUPING SETS ((event_type), (user_id))
       |ORDER BY event_type ASC NULLS FIRST, user_id ASC NULLS FIRST""".stripMargin

  /** J1 without overlapFilter: every pair competes (reference default
    * when `overlapFilter` is ""). Same binned plan, constant key. */
  def qOverlapAll(s: SparkSession, dir: String): DataFrame =
    Overlap.binned(Tables.events(s, dir), equiKey = None)

  val qOverlapAllSql: String =
    """WITH iv AS (
      |  SELECT event_id AS id, epoch_us(ts) AS s,
      |         epoch_us(ts) + CAST(round(value*1000000,0) AS BIGINT) AS e
      |  FROM events),
      |pairs AS (
      |  SELECT a.id, least(a.e, b.e) - greatest(a.s, b.s) AS ov
      |  FROM iv a JOIN iv b
      |    ON a.id <> b.id AND a.s < b.e AND b.s < a.e)
      |SELECT i.id AS event_id,
      |  CAST(COALESCE(sum(p.ov), 0) AS BIGINT) AS ov_us,
      |  CASE WHEN i.e = i.s THEN 0.0
      |    ELSE COALESCE(sum(p.ov), 0) / (i.e - i.s) END AS overlap_ratio
      |FROM iv i LEFT JOIN pairs p ON i.id = p.id
      |GROUP BY i.id, i.e, i.s
      |ORDER BY i.id""".stripMargin

  /** U2: payload multiplication + seeded shuffle — repeat the payload
    * list to cover `runs`, shuffle by a deterministic md5 sort key
    * over (payload, copy index). Same "seeded shuffle" semantics as
    * the reference's random.seed + shuffle (experiment_caller.py:272-
    * 278) but replayable in any engine with md5 — so the trim-to-runs
    * selection is oracle-checked. */
  private val shufflePayloads =
    Seq("""{"name":"Bob"}""", """{"name":"Joe"}""", """{"name":"Steve"}""")
  private val shuffleRuns = 50
  private val shuffleReps =
    (shuffleRuns + shufflePayloads.size - 1) / shufflePayloads.size

  def qPayloadShuffle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (payloads, runs, reps) = (shufflePayloads, shuffleRuns, shuffleReps)
    payloads.toDF("payload")
      .select(col("payload"),
        posexplode(array_repeat(lit(1), reps)).as(Seq("copy_idx", "one")))
      .withColumn("r", graft.functions.HashParity.h28(
        concat_ws("#", col("payload"), col("copy_idx"))))
      .orderBy(col("r"), col("payload"))
      .limit(runs)
      .select(col("payload"))
  }

  val qPayloadShuffleSql: String = {
    val vals = shufflePayloads.map(p => s"('$p')").mkString(", ")
    s"""WITH p AS (SELECT * FROM (VALUES $vals) AS t(payload)),
       |x AS (SELECT payload,
       |        CAST('0x' || substr(md5(payload || '#' || i), 1, 7) AS BIGINT) AS r
       |      FROM p CROSS JOIN UNNEST(generate_series(0, ${shuffleReps - 1})) AS u(i))
       |SELECT payload FROM x ORDER BY r, payload LIMIT $shuffleRuns""".stripMargin
  }

  /** As-of join ([[graft.ops.AsofJoin]]): each purchase matched to
    * the latest same-user click at or before it. The oracle is
    * DuckDB's NATIVE `ASOF LEFT JOIN` — an independently implemented
    * operator, not a replay of our plan. */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase").drop("event_type")
    val clicks = ev.filter(col("event_type") === "click").drop("event_type")
    AsofJoin.asofJoin(purchases, clicks,
        key = "user_id", ts = "ts_us", tie = "event_id",
        leftOut = Seq("event_id", "user_id", "ts_us"),
        rightOut = Seq("event_id", "ts_us"))
      .withColumn("gap_us", col("ts_us") - col("asof_ts_us"))
      .orderBy(col("event_id"))
  }

  val qAsofJoinSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
      |            FROM events),
      |p AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'purchase'),
      |c AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id, p.ts_us,
      |  c.event_id AS asof_event_id, c.ts_us AS asof_ts_us,
      |  p.ts_us - c.ts_us AS gap_us
      |FROM p ASOF LEFT JOIN c
      |  ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
      |ORDER BY p.event_id""".stripMargin

  /** The hot-key-safe bucketed as-of plan ([[AsofJoin.asofJoinBucketed]]:
    * per-(key, day) windows + bucket-tail carry), gated by the same
    * independent DuckDB native ASOF oracle as [[qAsofJoin]] — the
    * oracle validates the split-and-stitch, not a replay of it. */
  def qAsofBucketed(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase").drop("event_type")
    val clicks = ev.filter(col("event_type") === "click").drop("event_type")
    AsofJoin.asofJoinBucketed(purchases, clicks,
        key = "user_id", ts = "ts_us", tie = "event_id",
        leftOut = Seq("event_id", "user_id", "ts_us"),
        rightOut = Seq("event_id", "ts_us"),
        bucketWidth = 86400L * 1000000L) // one day
      .withColumn("gap_us", col("ts_us") - col("asof_ts_us"))
      .orderBy(col("event_id"))
  }

  /** Funnel conversion via the FORWARD as-of direction: each click
    * matched to the same user's earliest purchase at-or-after it,
    * then per-user click counts, 1h-conversion counts, and the
    * conversion ratio (one final long/long division). The oracle
    * replays the forward direction with DuckDB's backward-only ASOF
    * JOIN on negated timestamps — the same trick the operator uses
    * internally, implemented independently. */
  def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
    val clicks = ev.filter(col("event_type") === "click").drop("event_type")
    val purchases = ev.filter(col("event_type") === "purchase").drop("event_type")
    AsofJoin.asofJoin(clicks, purchases,
        key = "user_id", ts = "ts_us", tie = "event_id",
        leftOut = Seq("event_id", "user_id", "ts_us"),
        rightOut = Seq("ts_us"), forward = true)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_clicks"),
        count(when(col("asof_ts_us") - col("ts_us") <= hourUs, 1)).as("n_conv_1h"))
      .withColumn("conv_ratio", col("n_conv_1h") / col("n_clicks"))
      .orderBy(col("user_id"))
  }

  val qFunnelSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
      |            FROM events),
      |c AS (SELECT event_id, user_id, ts_us, -ts_us AS nts
      |      FROM ev WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts_us, -ts_us AS nts
      |      FROM ev WHERE event_type = 'purchase'),
      |j AS (SELECT c.user_id, c.ts_us, p.ts_us AS p_ts_us
      |      FROM c ASOF LEFT JOIN p
      |        ON c.user_id = p.user_id AND c.nts >= p.nts)
      |SELECT user_id, count(*) AS n_clicks,
      |  CAST(count(CASE WHEN p_ts_us - ts_us <= 3600000000 THEN 1 END) AS BIGINT)
      |    AS n_conv_1h,
      |  CAST(count(CASE WHEN p_ts_us - ts_us <= 3600000000 THEN 1 END) AS BIGINT)
      |    / count(*) AS conv_ratio
      |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin

  private val profileCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Column profiling ([[graft.ops.Profile]]) over lineitem. */
  def qProfile(s: SparkSession, dir: String): DataFrame =
    Profile.profile(Tables.lineitem(s, dir), profileCols)

  val qProfileSql: String = Profile.profileSql("lineitem", profileCols)

  /** Time-based rolling window via a RANGE frame: for every event,
    * the count and exact-cents sum of the same user's events in the
    * preceding hour (exclusive of the current row). Range frames are
    * the windowed form Spark executes without buffering the whole
    * partition per row — one shuffle on user_id, a sorted scan per
    * partition with a sliding frame boundary. */
  def qRollingWindow(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-hourUs, -1L)
    Tables.events(s, dir)
      .withColumn("value_c", Num.cents(col("value")))
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value_c"))
      .withColumn("n_prev_1h", count(lit(1)).over(w))
      .withColumn("sum_prev_1h_c", coalesce(sum(col("value_c")).over(w), lit(0L)))
      .select("event_id", "user_id", "ts_us", "n_prev_1h", "sum_prev_1h_c")
      .orderBy(col("event_id"))
  }

  val qRollingWindowSql: String =
    s"""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       |              ${Num.centsSql("value")} AS value_c FROM events)
       |SELECT event_id, user_id, ts_us,
       |  count(*) OVER w AS n_prev_1h,
       |  CAST(COALESCE(sum(value_c) OVER w, 0) AS BIGINT) AS sum_prev_1h_c
       |FROM ev
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
       |             RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
       |ORDER BY event_id""".stripMargin

  private val pivotTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Pivot: per-user wide table of event counts and cents sums by
    * event_type. The type list is pinned (`pivot(col, values)`) so the
    * plan is a single pass — Spark otherwise runs an extra distinct
    * job to discover values, and the output schema becomes
    * data-dependent, which no downstream contract wants. */
  def qPivot(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables.events(s, dir)
      .withColumn("value_c", Num.cents(col("value")))
      .groupBy(col("user_id"))
      .pivot("event_type", pivotTypes)
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .na.fill(0L)
    agg.select(col("user_id") +: pivotTypes.flatMap(t =>
      Seq(col(s"${t}_n").as(s"n_$t"), col(s"${t}_sum_c").as(s"sum_c_$t"))): _*)
      .orderBy(col("user_id"))
  }

  val qPivotSql: String = {
    val arms = pivotTypes.map(t =>
      s"""  count(*) FILTER (event_type = '$t') AS n_$t,
         |  CAST(COALESCE(sum(value_c) FILTER (event_type = '$t'), 0) AS BIGINT) AS sum_c_$t""".stripMargin)
      .mkString(",\n")
    s"""WITH ev AS (SELECT user_id, event_type,
       |              ${Num.centsSql("value")} AS value_c FROM events)
       |SELECT user_id,
       |$arms
       |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  /** UNPIVOT (melt) — the inverse relational reshape of `q_pivot`,
    * gated by the round-trip property itself: the wide per-user
    * matrix (one `n_<type>` column per event type, absent combos
    * zero-filled by the pivot) melts back to long form with Spark's
    * native `unpivot`, the zero-fill rows drop (`n > 0` — a count is
    * zero exactly when the combination never occurred), and the
    * result must hash-equal the plain GROUP BY the pivot started
    * from. Scale: unpivot is a per-row flatMap in the scan stage — no
    * shuffle beyond the pivot's own aggregate. */
  def qUnpivot(s: SparkSession, dir: String): DataFrame = {
    val wide = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", pivotTypes)
      .agg(count(lit(1)).as("n"))
      .na.fill(0L)
    wide.unpivot(
        Array(col("user_id")),
        pivotTypes.map(t => col(t)).toArray,
        "event_type", "n")
      .filter(col("n") > 0L)
      .orderBy(col("user_id"), col("event_type"))
  }

  val qUnpivotSql: String =
    """SELECT user_id, event_type, count(*) AS n
      |FROM events GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  /** Apply-changes merge ([[graft.ops.Upsert]]): a deterministic
    * carve of orders plays base snapshot (keys not divisible by 3)
    * and changes batch (even keys: re-priced + restatused upserts,
    * every 7th a delete tombstone). */
  def qUpsert(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        Num.cents(col("o_totalprice")).as("tp_c"))
    val base = o.filter(col("o_orderkey") % 3 =!= 0)
    val changes = o.filter(col("o_orderkey") % 2 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("tp_c", col("tp_c") + 500L)
      .withColumn("is_deleted", col("o_orderkey") % 7 === 0)
    Upsert.applyChanges(base, changes, "o_orderkey", "is_deleted")
      .orderBy(col("o_orderkey"))
  }

  val qUpsertSql: String =
    s"""WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
       |             ${Num.centsSql("o_totalprice")} AS tp_c FROM orders),
       |b AS (SELECT * FROM o WHERE o_orderkey % 3 <> 0),
       |c AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
       |        tp_c + 500 AS tp_c, (o_orderkey % 7 = 0) AS del
       |      FROM o WHERE o_orderkey % 2 = 0)
       |SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
       |  CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_custkey
       |       ELSE b.o_custkey END AS o_custkey,
       |  CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_orderstatus
       |       ELSE b.o_orderstatus END AS o_orderstatus,
       |  CAST(CASE WHEN c.o_orderkey IS NOT NULL THEN c.tp_c
       |       ELSE b.tp_c END AS BIGINT) AS tp_c
       |FROM b FULL OUTER JOIN c ON b.o_orderkey = c.o_orderkey
       |WHERE NOT COALESCE(c.del, false)
       |ORDER BY o_orderkey""".stripMargin

  /** Sliding event-time windows (1h window, 30m slide): every event
    * lands in exactly window/slide = 2 windows. Same
    * `groupBy(window(...))` plan Structured Streaming executes for the
    * streaming variant (q_stream_window covers the tumbling +
    * watermark path); the window explosion happens map-side before
    * the aggregate exchange, so shuffle volume is slide-factor ×
    * groups, not slide-factor × events. */
  def qSlidingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(Num.cents(col("value"))).as("sum_c"))
      .select(unix_micros(col("window.start")).as("w_start_us"),
        col("event_type"), col("n"), col("sum_c"))
      .orderBy(col("w_start_us"), col("event_type"))

  /** DuckDB replay: each event contributes to the two epoch-aligned
    * 30m-slide starts covering it. */
  val qSlidingWindowSql: String = {
    val slide = 1800000000L
    s"""WITH ev AS (SELECT event_type, epoch_us(ts) AS ts_us,
       |              ${Num.centsSql("value")} AS value_c FROM events),
       |w AS (SELECT event_type, value_c,
       |        (ts_us // $slide - u.i) * $slide AS w_start_us
       |      FROM ev, UNNEST(generate_series(0, 1)) AS u(i))
       |SELECT w_start_us, event_type, count(*) AS n,
       |  ${Num.sumSql("value_c")} AS sum_c
       |FROM w GROUP BY w_start_us, event_type
       |ORDER BY w_start_us, event_type""".stripMargin
  }

  private val quantilePs = Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99))

  /** Exact per-group discrete quantiles (p50/p90/p99 of cents values):
    * rank-based selection — the element at row_number ceil(p*n) in
    * value order — so both engines pick the identical value with no
    * interpolation arithmetic and no sketch. One window + one
    * aggregate, both keyed on the group: the sort is per-group, not
    * global. At 100 TB survey scale the sketch alternative is
    * `approx_percentile` (same plan shape, no sort), which like HLL
    * is not cross-engine comparable. */
  def qQuantiles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value_c"))
    val ranked = Tables.events(s, dir)
      .withColumn("value_c", Num.cents(col("value")))
      .select(col("event_type"), col("value_c"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    val qAggs = quantilePs.map { case (name, p) =>
      max(when(col("rn") === ceil(lit(p) * col("n")), col("value_c"))).as(name)
    }
    ranked.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), qAggs: _*)
      .orderBy(col("event_type"))
  }

  val qQuantilesSql: String = {
    val arms = quantilePs.map { case (name, p) =>
      s"max(CASE WHEN rn = CAST(ceil($p * n) AS BIGINT) THEN value_c END) AS $name"
    }.mkString(",\n  ")
    s"""WITH ev AS (SELECT event_type, ${Num.centsSql("value")} AS value_c FROM events),
       |r AS (SELECT event_type, value_c,
       |        row_number() OVER (PARTITION BY event_type ORDER BY value_c) AS rn,
       |        count(*) OVER (PARTITION BY event_type) AS n
       |      FROM ev)
       |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       |  $arms
       |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  /** Bounded-histogram approximate quantiles — the SCALE path for
    * [[qQuantiles]]: the exact entry ranks every row inside a
    * per-group window (a full per-group sort — fine at report scale,
    * not a 100 TB plan); this one folds values into 256-cent bins
    * with one (group, bin)-keyed shuffle + map-side partial counts,
    * then runs the cumulative scan over ≤ ~200 REGISTER rows per
    * group, data-size-independent past the first aggregate. The
    * approximate quantile is the covering bin's inclusive upper edge,
    * so error ≤ one bin width by construction and every output is an
    * exact integer — the exact quantiles ride along in-row as the
    * test-scale witness (the HLL/CMS pattern). */
  def qQuantilesHist(s: SparkSession, dir: String): DataFrame = {
    val binW = 256L
    val ev = Tables.events(s, dir)
      .withColumn("value_c", Num.cents(col("value")))
      .select(col("event_type"), col("value_c"))
    val hist = ev.groupBy(col("event_type"),
        expr(s"value_c DIV $binW").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("bin"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt"))
        .over(Window.partitionBy(col("event_type"))))
    val approx = quantilePs.map { case (name, p) =>
      min(when(col("cum") >= ceil(lit(p) * col("n")),
        (col("bin") + 1L) * binW - 1L)).as(s"${name}_hi")
    }
    val histSide = cum.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), approx: _*)
    val exact = qQuantiles(s, dir)
      .select(col("event_type") +: quantilePs.map { case (name, _) =>
        col(name).as(s"${name}_exact")
      }: _*)
    histSide.join(exact, Seq("event_type")).orderBy(col("event_type"))
  }

  val qQuantilesHistSql: String = {
    val arms = quantilePs.map { case (name, p) =>
      s"min(CASE WHEN cum >= CAST(ceil($p * n) AS BIGINT) THEN (bin + 1) * 256 - 1 END) AS ${name}_hi"
    }.mkString(",\n  ")
    val exactArms = quantilePs.map { case (name, p) =>
      s"max(CASE WHEN rn = CAST(ceil($p * n) AS BIGINT) THEN value_c END) AS ${name}_exact"
    }.mkString(",\n  ")
    s"""WITH ev AS (SELECT event_type, ${Num.centsSql("value")} AS value_c FROM events),
       |hist AS (SELECT event_type, value_c // 256 AS bin, count(*) AS cnt
       |         FROM ev GROUP BY 1, 2),
       |cum AS (SELECT event_type, bin, cnt,
       |          CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            AS BIGINT) AS cum,
       |          CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
       |        FROM hist),
       |approx AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       |  $arms
       |FROM cum GROUP BY event_type),
       |r AS (SELECT event_type, value_c,
       |        row_number() OVER (PARTITION BY event_type ORDER BY value_c) AS rn,
       |        count(*) OVER (PARTITION BY event_type) AS n
       |      FROM ev),
       |exact AS (SELECT event_type,
       |  $exactArms
       |FROM r GROUP BY event_type)
       |SELECT a.event_type, a.n, a.p50_hi, a.p90_hi, a.p99_hi,
       |  e.p50_exact, e.p90_exact, e.p99_exact
       |FROM approx a JOIN exact e ON a.event_type = e.event_type
       |ORDER BY a.event_type""".stripMargin
  }

  /** Oracle-replayable HyperLogLog approx-distinct — the COUNT
    * (DISTINCT) scale path: one (group, bucket)-keyed shuffle with
    * map-side partial max, ≤ 256 register rows per group, no expand.
    * Joined against the exact distinct count so the sketch's error is
    * visible in-row; at 100 TB only the register pipeline runs (the
    * exact side here is the test-scale witness). Registers and the
    * raw estimate replay bit-exactly in DuckDB (md5 parity hash +
    * integer register sums + one IEEE division); the libm
    * linear-counting correction stays consumer-side ([[Hll.corrected]],
    * exercised in HllSpec). */
  def qHllDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"), col("event_id"))
    val est = Hll.estimate(
      Hll.registers(ev, Seq("event_type"), "event_id", p = 8),
      Seq("event_type"), p = 8)
    val exact = ev.groupBy(col("event_type"))
      .agg(count_distinct(col("event_id")).as("n_exact"))
    est.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_exact"), col("n_zero_regs"),
        col("sum_pow"), col("est_hll"), col("use_lc").cast("long").as("use_lc"))
      .orderBy(col("event_type"))
  }

  val qHllDistinctSql: String =
    s"""WITH hll AS (
       |${Hll.estimateSql("events", "event_type", "CAST(event_id AS VARCHAR)", 8)}),
       |ex AS (SELECT event_type, count(DISTINCT event_id) AS n_exact
       |       FROM events GROUP BY 1)
       |SELECT hll.event_type, n_exact, n_zero_regs, sum_pow, est_hll,
       |  CAST(use_lc AS BIGINT) AS use_lc
       |FROM hll JOIN ex ON hll.event_type = ex.event_type
       |ORDER BY hll.event_type""".stripMargin

  /** Count-Min heavy-hitter estimation — the frequency twin of
    * [[qHllDistinct]]: per event_type, a d=4 × w=256 integer-counter
    * sketch of user activity (one shuffle, map-side partial sums,
    * ≤ d·w register rows per group at ANY corpus size), probed for
    * the top-5 users with the exact counts in-row as the test-scale
    * witness. Every counter and estimate is an exact integer over
    * md5 parity hashes, so the full sketch replays in DuckDB. CMS
    * never underestimates; the overshoot bound is spec-pinned. */
  def qCmsTopk(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"), col("user_id"))
    val regs = Cms.registers(ev, Seq("event_type"), "user_id", d = 4, w = 256)
    val exact = ev.groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_exact"))
    val rkW = Window.partitionBy(col("event_type"))
      .orderBy(col("n_exact").desc, col("user_id"))
    val cand = exact.withColumn("rk", row_number().over(rkW).cast("long"))
      .filter(col("rk") <= 5)
    // rk/n_exact CARRY THROUGH the estimate (they are functions of
    // the key) so the candidate lineage — a full corpus scan — runs
    // exactly once; joining cand back afterwards would re-run it
    Cms.estimate(regs, cand, Seq("event_type"), "user_id",
        d = 4, w = 256, carryCols = Seq("rk", "n_exact"))
      .select(col("event_type"), col("rk"), col("user_id"),
        col("n_exact"), col("n_est"))
      .orderBy(col("event_type"), col("rk"))
  }

  val qCmsTopkSql: String = {
    val cand =
      """SELECT event_type, user_id, n_exact, rk FROM (
        |    SELECT event_type, user_id, count(*) AS n_exact,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY count(*) DESC, user_id) AS rk
        |    FROM events GROUP BY 1, 2) WHERE rk <= 5""".stripMargin
    s"""WITH ${Cms.estimateSql("events", "event_type",
          "CAST(user_id AS VARCHAR)", cand, "user_id", d = 4, w = 256)}
       |SELECT e.event_type, c.rk, e.user_id, c.n_exact, e.n_est
       |FROM est e JOIN cand c
       |  ON e.event_type = c.event_type AND e.user_id = c.user_id
       |ORDER BY 1, 2""".stripMargin
  }

  /** Gzipped-JSONL shard ingest — the layout web-scale text corpora
    * ship in. gzip is not splittable, so the parallelism unit is the
    * SHARD (one task decompresses one file end to end; throughput
    * scales with shard count — why corpora ship many mid-size shards).
    * The read takes an EXPLICIT schema (no inference pass over
    * compressed bytes at 100 TB), extracts a nested `meta` struct,
    * and routes each shard's deliberately malformed line through
    * PERMISSIVE null-row semantics — which DuckDB's
    * `ignore_errors=true` mirrors exactly, so even the corrupt-line
    * count is oracle-checked (the `_corrupt` group). */
  def qJsonlGz(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val jdir = graft.sources.JsonlCorpus.ensure()
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("source", StringType),
      StructField("meta", StructType(Seq(
        StructField("lang", StringType),
        StructField("stars", LongType)))),
      StructField("text", StringType)))
    s.read.schema(schema).json(s"$jdir/*.jsonl.gz")
      .groupBy(coalesce(col("source"), lit("_corrupt")).as("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(size(split(col("text"), " "))), lit(0))
          .cast("long").as("n_tokens"),
        coalesce(sum(col("meta.stars")), lit(0)).cast("long").as("sum_stars"),
        count_distinct(col("meta.lang")).as("n_langs"))
      .orderBy(col("source"))
  }

  val qJsonlGzSql: String = {
    val dir = graft.sources.JsonlCorpus.DefaultDir
    s"""SELECT COALESCE(source, '_corrupt') AS source, count(*) AS n_docs,
       |  CAST(COALESCE(sum(len(str_split(text, ' '))), 0) AS BIGINT)
       |    AS n_tokens,
       |  CAST(COALESCE(sum(meta.stars), 0) AS BIGINT) AS sum_stars,
       |  count(DISTINCT meta.lang) AS n_langs
       |FROM read_json('$dir/*.jsonl.gz', format='newline_delimited',
       |  ignore_errors=true)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Data-quality expectations over the events table: three row-level
    * rules folded into one aggregate pass, two uniqueness checks, one
    * referential check against customer — the promote-gate report. */
  def qQuality(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Quality
    import graft.ops.Quality.{Expect, InParent, Unique}
    val ev = Tables.events(s, dir)
    Quality.check(ev, Seq(
        Expect("value_non_negative", col("value") >= 0),
        Expect("value_under_500", col("value") < 500),
        Expect("event_type_nonempty", length(col("event_type")) > 0),
        Unique("event_id_unique", Seq("event_id")),
        Unique("user_event_type_unique", Seq("user_id", "event_type")),
        InParent("user_in_customer", "user_id",
          Tables.customer(s, dir), "c_custkey")))
      .withColumn("pass", col("pass").cast("long"))
      .orderBy(col("rule"))
  }

  val qQualitySql: String =
    """WITH total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events),
      |v AS (
      |  SELECT 'value_non_negative' AS rule, CAST(count(*) FILTER (
      |    WHERE NOT COALESCE(value >= 0, FALSE)) AS BIGINT) AS violations
      |  FROM events
      |  UNION ALL
      |  SELECT 'value_under_500', CAST(count(*) FILTER (
      |    WHERE NOT COALESCE(value < 500, FALSE)) AS BIGINT) FROM events
      |  UNION ALL
      |  SELECT 'event_type_nonempty', CAST(count(*) FILTER (
      |    WHERE NOT COALESCE(length(event_type) > 0, FALSE)) AS BIGINT)
      |  FROM events
      |  UNION ALL
      |  SELECT 'event_id_unique', CAST(COALESCE(sum(n - 1), 0) AS BIGINT)
      |  FROM (SELECT count(*) AS n FROM events GROUP BY event_id
      |        HAVING count(*) > 1)
      |  UNION ALL
      |  SELECT 'user_event_type_unique', CAST(COALESCE(sum(n - 1), 0) AS BIGINT)
      |  FROM (SELECT count(*) AS n FROM events GROUP BY user_id, event_type
      |        HAVING count(*) > 1)
      |  UNION ALL
      |  SELECT 'user_in_customer', CAST(count(*) AS BIGINT)
      |  FROM events e WHERE user_id IS NOT NULL AND NOT EXISTS (
      |    SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
      |SELECT v.rule, v.violations, total.n AS total,
      |  CAST(v.violations = 0 AS BIGINT) AS pass
      |FROM v CROSS JOIN total ORDER BY rule""".stripMargin


  /** Weekly cohort retention over the event stream — the classic
    * product-analytics artifact: users bucketed by first-active week
    * (integer epoch-week, calendar-free so it replays in any engine),
    * activity counted at each week offset, rates against the cohort
    * size.
    *
    * Scale shape: one shuffle on user_id covers both the cohort
    * (min week per user) and the distinct activity aggregates; the
    * per-cohort size table is bounded by the week span and joins back
    * as a broadcast. */
  def qCohortRetention(s: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 24 * 3600 * 1000000L
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr(s"ts_us DIV $weekUs").as("week"))
    val cohorts = ev.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    val sizes = cohorts.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    ev.distinct()
      .join(cohorts, Seq("user_id"))
      .withColumn("week_offset", col("week") - col("cohort_week"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_active"))
      .join(broadcast(sizes), Seq("cohort_week"))
      .withColumn("retention", col("n_active") / col("cohort_size"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val qCohortRetentionSql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) // 604800000000 AS week
      |            FROM events),
      |ch AS (SELECT user_id, min(week) AS cohort_week FROM ev
      |       GROUP BY user_id),
      |ac AS (SELECT DISTINCT user_id, week FROM ev),
      |r AS (SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
      |        CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
      |      FROM ac a JOIN ch c USING (user_id) GROUP BY 1, 2),
      |sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
      |       FROM ch GROUP BY 1)
      |SELECT r.cohort_week, r.week_offset, r.n_active, sz.cohort_size,
      |  r.n_active / sz.cohort_size AS retention
      |FROM r JOIN sz USING (cohort_week)
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** Top co-purchased part pairs (market-basket lite): parts sharing
    * an order, counted over distinct (order, part) memberships, top
    * 20 by support with a total tie-break.
    *
    * Scale shape: the pair generator is a self-equi-join on the order
    * key, and an order's line count is bounded (TPC-H: <= 7), so the
    * blowup is a small constant per order; orderBy+limit plans as
    * TakeOrdered (per-partition top-k, no global sort
    * materialization). */
  def qCopurchase(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    li.select(col("ok"), col("pk").as("p1"))
      .join(li.select(col("ok"), col("pk").as("p2")), Seq("ok"))
      .filter(col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("p1"), col("p2"))
      .limit(20)
  }

  val qCopurchaseSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |            FROM lineitem)
      |SELECT a.pk AS p1, b.pk AS p2, CAST(count(*) AS BIGINT) AS n_orders
      |FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |GROUP BY 1, 2
      |ORDER BY n_orders DESC, p1, p2 LIMIT 20""".stripMargin

  /** Calendar gap-filling (resampling): per-user HOURLY activity
    * counts with the empty hours between a user's first and last
    * event materialized as zero rows — the densification every
    * time-series chart and window model needs before it can assume a
    * regular grid.
    *
    * Scale shape: the grid explodes `sequence(min_hr, max_hr)` per
    * user — rows are bounded by users x their own span, never a
    * global calendar cross join; the count join is co-keyed with the
    * grid's groupBy. */
  def qGapFill(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    gapFillCounts(Tables.events(s, dir)
        .select(col("user_id"), expr(s"ts_us DIV $hourUs").as("hr")))
      .orderBy(col("user_id"), col("hr"))
  }

  /** The densification itself, over (user_id, hr) — shared by
    * [[qGapFill]] and its hand-computed spec. */
  private[graft] def gapFillCounts(ev: DataFrame): DataFrame = {
    val counts = ev.groupBy(col("user_id"), col("hr"))
      .agg(count(lit(1)).as("n_events"))
    val grid = ev.groupBy(col("user_id"))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"))).as("hr"))
    grid.join(counts, Seq("user_id", "hr"), "left")
      .na.fill(0L, Seq("n_events"))
  }

  val qGapFillSql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hr
      |            FROM events),
      |c AS (SELECT user_id, hr, CAST(count(*) AS BIGINT) AS n_events
      |      FROM ev GROUP BY user_id, hr),
      |sp AS (SELECT user_id, min(hr) AS h0, max(hr) AS h1
      |       FROM ev GROUP BY user_id),
      |g AS (SELECT user_id, u.hr
      |      FROM sp, UNNEST(generate_series(h0, h1)) AS u(hr))
      |SELECT g.user_id, g.hr, COALESCE(c.n_events, 0) AS n_events
      |FROM g LEFT JOIN c ON g.user_id = c.user_id AND g.hr = c.hr
      |ORDER BY g.user_id, g.hr""".stripMargin

  /** SCD2 (type-2 slowly-changing-dimension) build from the event
    * change log: each user's observed `value` becomes a validity
    * interval `[valid_from, valid_to)` via LEAD over the user's
    * timeline — open intervals close at the next change, the current
    * row carries the sentinel `Long.MaxValue`. One window exchange on
    * the natural key; the standard temporal-table construction.
    * Consecutive events keep their own rows (interval per
    * observation, not per distinct value — the change-log grain). */
  def qScd2(s: SparkSession, dir: String): DataFrame =
    scd2Intervals(Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          Num.cents(col("value")).as("value_c")))
      .orderBy(col("user_id"), col("valid_from_us"), col("event_id"))

  /** The interval build itself, over (user_id, event_id, ts_us,
    * value_c) — shared by [[qScd2]] and its hand-computed spec. */
  private[graft] def scd2Intervals(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    ev.withColumn("valid_from_us", col("ts_us"))
      .withColumn("valid_to_us",
        coalesce(lead(col("ts_us"), 1).over(w), lit(Long.MaxValue)))
      .withColumn("is_current",
        (col("valid_to_us") === Long.MaxValue).cast("long"))
      .select(col("user_id"), col("event_id"), col("value_c"),
        col("valid_from_us"), col("valid_to_us"), col("is_current"))
  }

  val qScd2Sql: String =
    s"""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |        ${Num.centsSql("value")} AS value_c FROM events)
       |SELECT user_id, event_id, value_c,
       |  ts_us AS valid_from_us,
       |  COALESCE(lead(ts_us, 1) OVER (PARTITION BY user_id
       |    ORDER BY ts_us, event_id), ${Long.MaxValue}) AS valid_to_us,
       |  CAST(COALESCE(lead(ts_us, 1) OVER (PARTITION BY user_id
       |    ORDER BY ts_us, event_id), ${Long.MaxValue})
       |    = ${Long.MaxValue} AS BIGINT) AS is_current
       |FROM ev ORDER BY user_id, valid_from_us, event_id""".stripMargin

  /** Association rules over the co-purchase pairs: for the top pairs
    * by support, confidence and lift in EXACT integer ppm —
    * `conf(p1→p2) = n_pair/n_p1`, `lift = conf/P(p2)` computed as
    * `n_pair * n_orders * 1e6 DIV (n_p1 * n_p2)` so no float division
    * ever runs. The market-basket read beyond raw pair counts.
    *
    * Scale shape: same bounded self-equi-join as [[qCopurchase]];
    * per-item counts are one map-side-combined aggregate joined back
    * only onto the top-20 pairs (broadcast-small after TakeOrdered).
    * Overflow: n_pair * n_orders * 1e6 needs n_pair * n_orders
    * < ~9e12 — at 100 TB run the lift as a two-step DIV, documented
    * here. */
  def qAssocRules(s: SparkSession, dir: String): DataFrame = {
    import graft.core.CacheScope.Scoped
    // four consumers (item counts, order count, both join sides) —
    // one distinct pass instead of four lineitem scans
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().scopedCache()
    val items = li.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
    val orders = li.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val pairs = li.select(col("ok"), col("pk").as("p1"))
      .join(li.select(col("ok"), col("pk").as("p2")), Seq("ok"))
      .filter(col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("n_pair"))
      .orderBy(col("n_pair").desc, col("p1"), col("p2"))
      .limit(20)
    pairs
      .join(broadcast(items.withColumnRenamed("pk", "p1")
        .withColumnRenamed("n_item", "n_p1")), Seq("p1"))
      .join(broadcast(items.withColumnRenamed("pk", "p2")
        .withColumnRenamed("n_item", "n_p2")), Seq("p2"))
      .crossJoin(broadcast(orders))
      .withColumn("conf12_ppm", expr("n_pair * 1000000 DIV n_p1"))
      .withColumn("conf21_ppm", expr("n_pair * 1000000 DIV n_p2"))
      .withColumn("lift_ppm",
        expr("n_pair * n_orders * 1000000 DIV (n_p1 * n_p2)"))
      .select(col("p1"), col("p2"), col("n_pair"), col("n_p1"),
        col("n_p2"), col("n_orders"), col("conf12_ppm"),
        col("conf21_ppm"), col("lift_ppm"))
      .orderBy(col("n_pair").desc, col("p1"), col("p2"))
  }

  val qAssocRulesSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |            FROM lineitem),
      |it AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_item
      |       FROM li GROUP BY pk),
      |no AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
      |pr AS (SELECT a.pk AS p1, b.pk AS p2,
      |         CAST(count(*) AS BIGINT) AS n_pair
      |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |       GROUP BY 1, 2
      |       ORDER BY n_pair DESC, p1, p2 LIMIT 20)
      |SELECT pr.p1, pr.p2, pr.n_pair,
      |  i1.n_item AS n_p1, i2.n_item AS n_p2, no.n_orders,
      |  CAST(pr.n_pair * 1000000 // i1.n_item AS BIGINT) AS conf12_ppm,
      |  CAST(pr.n_pair * 1000000 // i2.n_item AS BIGINT) AS conf21_ppm,
      |  CAST(pr.n_pair * no.n_orders * 1000000
      |    // (i1.n_item * i2.n_item) AS BIGINT) AS lift_ppm
      |FROM pr
      |JOIN it i1 ON pr.p1 = i1.pk
      |JOIN it i2 ON pr.p2 = i2.pk
      |CROSS JOIN no
      |ORDER BY n_pair DESC, p1, p2""".stripMargin

  /** RFM customer segmentation over the orders fact: recency (days
    * since last order, against the corpus-wide latest order day),
    * frequency (order count), monetary (exact cents), each cut into
    * equal-frequency quartiles and concatenated into the classic
    * `R#F#M#` segment label.
    *
    * Scale shape: one shuffle on custkey produces all three metrics;
    * each quartile cut reuses [[graft.ops.Curriculum.equalFreqBins]]
    * — a bounded integer histogram plus a broadcast bucket→bin table,
    * never a global ntile window over the customer frame. The
    * reference anchor day is a 1-row broadcast. */
  def qRfm(s: SparkSession, dir: String): DataFrame = {
    val od = Tables.orders(s, dir).select(
      col("o_custkey").as("custkey"),
      datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).as("day"),
      Num.cents(col("o_totalprice")).as("price_c"))
    val per = od.groupBy(col("custkey")).agg(
      max(col("day")).as("last_day"),
      count(lit(1)).as("n_orders"),
      sum(col("price_c")).as("monetary_c"))
    val refDay = per.agg(max(col("last_day")).as("ref_day"))
    val base = per.crossJoin(broadcast(refDay))
      .withColumn("recency_days",
        (col("ref_day") - col("last_day")).cast("long"))
      .drop("ref_day", "last_day")
    // all three quartile cuts from ONE histogram pass over the
    // per-customer frame (each cut's bin assignment is independent of
    // the others — binning reads only its own value column), instead
    // of three chained cache+histogram+join rounds
    val m = Curriculum.equalFreqBinsMulti(base, Seq(
      ("recency_days", "r_bin", 1L),
      ("n_orders", "f_bin", 1L),
      ("monetary_c", "m_bin", 100000L)), nBins = 4)
    m.withColumn("segment", concat(
        lit("R"), col("r_bin").cast("string"),
        lit("F"), col("f_bin").cast("string"),
        lit("M"), col("m_bin").cast("string")))
      .orderBy(col("custkey"))
  }

  /** One dimension of the oracle's histogram-quartile replay
    * (mirrors `Curriculum.equalFreqBins`). */
  private def rfmBinCtes(tag: String, valueExpr: String, width: Long): String =
    s"""${tag}h AS (SELECT ($valueExpr) // $width AS hb,
       |        CAST(count(*) AS BIGINT) AS hn FROM base GROUP BY hb),
       |${tag}c AS (SELECT hb, COALESCE(CAST(sum(hn) OVER (ORDER BY hb
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |          AS BIGINT), 0) AS cum_excl FROM ${tag}h),
       |${tag}t AS (SELECT CAST(sum(hn) AS BIGINT) AS t FROM ${tag}h),
       |${tag}b AS (SELECT hb, least(4 * cum_excl // t + 1, 4) AS bin
       |        FROM ${tag}c, ${tag}t)""".stripMargin

  val qRfmSql: String =
    s"""WITH od AS (SELECT o_custkey AS custkey,
       |        CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
       |        ${Num.centsSql("o_totalprice")} AS price_c
       |      FROM orders),
       |per AS (SELECT custkey, max(day) AS last_day,
       |          CAST(count(*) AS BIGINT) AS n_orders,
       |          ${Num.sumSql("price_c")} AS monetary_c
       |        FROM od GROUP BY custkey),
       |base AS (SELECT custkey,
       |           CAST((SELECT max(last_day) FROM per) - last_day
       |             AS BIGINT) AS recency_days,
       |           n_orders, monetary_c
       |         FROM per),
       |${rfmBinCtes("r", "recency_days", 1L)},
       |${rfmBinCtes("f", "n_orders", 1L)},
       |${rfmBinCtes("m", "monetary_c", 100000L)}
       |SELECT b.custkey, b.recency_days, b.n_orders, b.monetary_c,
       |  CAST(rb.bin AS BIGINT) AS r_bin, CAST(fb.bin AS BIGINT) AS f_bin,
       |  CAST(mb.bin AS BIGINT) AS m_bin,
       |  'R' || rb.bin || 'F' || fb.bin || 'M' || mb.bin AS segment
       |FROM base b
       |JOIN rb ON b.recency_days // 1 = rb.hb
       |JOIN fb ON b.n_orders // 1 = fb.hb
       |JOIN mb ON b.monetary_c // 100000 = mb.hb
       |ORDER BY custkey""".stripMargin

  /** Per-user 3-sigma outlier counts over the event stream, in EXACT
    * integer arithmetic: the z-score test `|x - mean| > 3*sigma` is
    * multiplied through by `n^2` to
    * `(x*n - sum)^2 > 9*(n*sumsq - sum^2)` — cents-integer sums only,
    * no float aggregation, no division, so the flag replays
    * bit-for-bit in any engine (population sigma; a single-event user
    * equals its mean and never flags).
    *
    * Scale shape: ONE shuffle on user_id — the stats ride unbounded
    * window aggregates over the user partition, the flag is a row
    * expression, and the summary groupBy reuses the same
    * partitioning, so no join-back and no second exchange. Overflow
    * bound: |x_c| * n per user must stay under ~3e9 (squares below
    * 2^63) — documented, far above any real per-user event count at
    * cent scale. */
  def qOutlierEvents(s: SparkSession, dir: String): DataFrame =
    outlierSummary(Tables.events(s, dir).select(col("user_id"),
        col("event_id"), Num.cents(col("value")).as("x")))
      .orderBy(col("user_id"))

  /** The integer 3-sigma test + per-user rollup, over (user_id,
    * event_id, x) — shared by [[qOutlierEvents]] and its
    * hand-computed spec. */
  private[graft] def outlierSummary(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val dev = col("x") * col("n") - col("sm")
    ev.withColumn("n", count(lit(1)).over(w))
      .withColumn("sm", sum(col("x")).over(w))
      .withColumn("sq", sum(col("x") * col("x")).over(w))
      .withColumn("outlier",
        (dev * dev > lit(9L) * (col("n") * col("sq") - col("sm") * col("sm")))
          .cast("long"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("sm")).as("sum_c"),
        sum(col("outlier")).as("n_outliers"))
  }

  val qOutlierEventsSql: String =
    s"""WITH ev AS (SELECT user_id, event_id,
       |        ${Num.centsSql("value")} AS x FROM events),
       |st AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       |         ${Num.sumSql("x")} AS sm, ${Num.sumSql("x*x")} AS sq
       |       FROM ev GROUP BY user_id),
       |fl AS (SELECT ev.user_id, ev.x, st.sm,
       |         CAST((ev.x*st.n - st.sm)*(ev.x*st.n - st.sm)
       |           > 9*(st.n*st.sq - st.sm*st.sm) AS BIGINT) AS o
       |       FROM ev JOIN st USING (user_id))
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(max(sm) AS BIGINT) AS sum_c, ${Num.sumSql("o")} AS n_outliers
       |FROM fl GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Key-skew audit — the read before choosing a salting factor or
    * trusting AQE's skew split: per-key row counts over a join key,
    * reduced to the top-10 keys with exact integer ppm shares and the
    * global key statistics riding along. One map-side-combined
    * aggregate; `orderBy+limit` plans as TakeOrdered (per-partition
    * top-k, no global sort). */
  def qSkewAudit(s: SparkSession, dir: String): DataFrame = {
    val k = Tables.lineitem(s, dir).groupBy(col("l_suppkey").as("key"))
      .agg(count(lit(1)).as("n"))
    val tot = k.agg(sum(col("n")).as("tot"), count(lit(1)).as("n_keys"))
    k.crossJoin(broadcast(tot))
      .withColumn("share_ppm", expr("n * 1000000 DIV tot"))
      .orderBy(col("n").desc, col("key")).limit(10)
  }

  val qSkewAuditSql: String =
    """WITH k AS (SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS n
      |           FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
      |        CAST(count(*) AS BIGINT) AS n_keys FROM k)
      |SELECT k.key, k.n, t.tot, t.n_keys,
      |  CAST(k.n * 1000000 // t.tot AS BIGINT) AS share_ppm
      |FROM k, t ORDER BY n DESC, key LIMIT 10""".stripMargin

  /** DYNAMIC PARTITION PRUNING over a date-partitioned corpus — the
    * 100 TB layout every production events store uses, and the one
    * pruning class ([[graft.sources.ObjectStore]]'s row-group
    * pushdown aside) the engine hadn't demonstrated: the events table
    * lands `partitionBy(d)` (one day per partition), a slim day
    * dimension (derived from the fact's partition VALUES — a
    * partition-column-only scan reads no data pages) gets a selective
    * weekday filter, and the join on the partition key makes Spark
    * plant a `DynamicPruningExpression` on the fact scan: at runtime
    * only qualifying days' directories are read. The entry REQUIRES
    * the pruning subquery in its own executed plan — a plan
    * regression fails the correctness gate, not just a benchmark.
    * Oracle: the join collapses to a day-of-week filter (every
    * dimension day comes from the fact), replayed over the raw
    * events table. */
  def qPartitionPrune(s: SparkSession, dir: String): DataFrame = {
    val out = partitionPruneJoin(s, dir)
    require(hasDynamicPruning(out.queryExecution.executedPlan),
      "dynamic partition pruning missing from the fact scan's plan")
    out
  }

  /** [[qPartitionPrune]]'s layout and join under `s`'s confs,
    * unchecked. */
  private[graft] def partitionPruneJoin(s: SparkSession,
      dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "dpp")
    val dayUs = 86400L * 1000000L
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("ts_us"),
        Num.cents(col("value")).as("value_c"))
      .withColumn("d", expr(s"ts_us DIV $dayUs"))
      // cluster each day into one task before the partitioned write:
      // without it every task writes a file into every day's dir —
      // O(tasks x days) small files (measured 28 s at sf1 vs ~3 s
      // clustered), and the same layout bloat on a real cluster
      .repartition(col("d"))
      .write.partitionBy("d").parquet(s"$tmp/by_day")
    val fact = s.read.parquet(s"$tmp/by_day")
      .withColumn("d", col("d").cast("long")) // partition col infers int
    // day dimension from the partition values, persisted so the build
    // side is a real filtered scan (the shape DPP prunes on)
    fact.select(col("d")).distinct()
      .withColumn("dow", pmod(col("d"), lit(7L)))
      .coalesce(1).write.parquet(s"$tmp/days")
    val dim = s.read.parquet(s"$tmp/days").filter(col("dow") === 2L)
    fact.join(dim, Seq("d"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value_c")).as("sum_c"),
        count_distinct(col("d")).as("n_days"))
      .orderBy(col("event_type"))
  }

  /** `plan` prunes partitions at run time: some scan filter is a
    * `DynamicPruningExpression` over a pruning subquery (not the
    * literal `true` it degrades to when the build side cannot be
    * reused). */
  private[graft] def hasDynamicPruning(plan: SparkPlan): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{DynamicPruningExpression, Literal}
    Plans.expressions(plan).exists {
      case DynamicPruningExpression(_: Literal) => false
      case _: DynamicPruningExpression => true
      case _ => false
    }
  }

  val qPartitionPruneSql: String =
    s"""WITH f AS (SELECT event_type,
       |    epoch_us(ts) // ${86400L * 1000000L} AS d,
       |    ${Num.centsSql("value")} AS value_c
       |  FROM events)
       |SELECT event_type, count(*) AS n,
       |  ${Num.sumSql("value_c")} AS sum_c,
       |  CAST(count(DISTINCT d) AS BIGINT) AS n_days
       |FROM f WHERE d % 7 = 2
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** SCHEMA EVOLUTION over a landed corpus — the operational reality
    * every long-lived 100 TB landing zone hits: early batches were
    * written BEFORE a column existed, later batches carry it, and the
    * union must read as one table. Two scratch batches derive
    * deterministically from events (the "old" batch drops `value_c`;
    * the "new" batch carries it), and the merged read
    * (`mergeSchema=true` — schema reconciliation by NAME across
    * files, absent columns null-filled) feeds one aggregate whose
    * null-vs-zero distinction proves the fill really happened. The
    * entry REQUIRES the merged schema to contain the evolved column
    * even though the old files lack it. Oracle: the same split
    * reconstructed from raw events with the old half's values
    * nulled. */
  def qSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "evo")
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        Num.cents(col("value")).as("value_c"))
      .withColumn("is_new", pmod(col("event_id"), lit(2L)) === 0L)
    // two column-pruned scans, one per schema epoch: the split lands
    // as two file batches with DIFFERENT schemas (the old one
    // predates value_c) — the shape a real landing zone accretes
    ev.filter(!col("is_new")).select(col("event_id"), col("event_type"))
      .write.parquet(s"$tmp/in/batch_old")
    ev.filter(col("is_new"))
      .select(col("event_id"), col("event_type"), col("value_c"))
      .write.parquet(s"$tmp/in/batch_new")
    val merged = s.read.option("mergeSchema", "true")
      .parquet(s"$tmp/in/batch_old", s"$tmp/in/batch_new")
    require(merged.columns.contains("value_c"),
      "mergeSchema lost the evolved column")
    merged.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        count(col("value_c")).as("n_with_value"),
        sum(col("value_c")).as("sum_c"))
      .orderBy(col("event_type"))
  }

  val qSchemaEvolutionSql: String =
    s"""WITH ev AS (SELECT event_id, event_type,
       |    CASE WHEN event_id % 2 = 0
       |      THEN ${Num.centsSql("value")} END AS value_c
       |  FROM events)
       |SELECT event_type, count(*) AS n,
       |  CAST(count(value_c) AS BIGINT) AS n_with_value,
       |  ${Num.sumSql("value_c")} AS sum_c
       |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin

  /** METADATA-ONLY layout audit ([[graft.ops.LayoutAudit]]): lineitem
    * lands range-bucketed on its key (one file per bucket), then the
    * per-file row counts and key min/max are read from parquet FOOTER
    * STATISTICS alone — no data page fetched — and gated against the
    * same statistics derived from the data by the oracle. The
    * data-skipping observability loop at 100 TB: whether files are
    * clustered tight enough to prune is answerable from footers in
    * seconds, and a footer whose stats disagree with its rows (which
    * would silently corrupt every pruning decision) hash-mismatches
    * here instead. The bucket id re-derives from the footer MIN
    * itself, so a fabricated bound cannot hide. */
  def qLayoutAudit(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "layout")
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"))
    // both engines derive the width the same way: max DIV 8 + 1
    val width = li.agg(max("l_orderkey")).head().getLong(0) / 8 + 1
    li.withColumn("f", expr(s"l_orderkey DIV $width"))
      .repartition(col("f"))
      .write.partitionBy("f").parquet(s"$tmp/by_k")
    LayoutAudit.audit(s, s"$tmp/by_k/f=*/*.parquet", "l_orderkey")
      .select(
        expr(s"col_min DIV $width").as("f"),
        col("n_rows"),
        col("col_min").as("min_key"),
        col("col_max").as("max_key"))
      .orderBy(col("f"))
  }

  val qLayoutAuditSql: String =
    """WITH w AS (SELECT max(l_orderkey) // 8 + 1 AS width FROM lineitem),
      |b AS (SELECT l_orderkey,
      |        l_orderkey // (SELECT width FROM w) AS f
      |      FROM lineitem)
      |SELECT f, CAST(count(*) AS BIGINT) AS n_rows,
      |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
      |FROM b GROUP BY f ORDER BY f""".stripMargin

  /** Z-order bucket bits per dimension (64 buckets each) and the
    * z-range a file owns — interpolated into BOTH engines so the
    * derivations cannot drift. */
  private val ZBits = 6
  private val ZFileWidth = 256L

  /** [[graft.functions.ZOrder.interleave]] restricted to [[ZBits]]-bit
    * inputs, spelled in portable integer arithmetic for the oracle:
    * bit i of a lands at position 2i, bit i of b at 2i+1. */
  private def zInterleaveSql(a: String, b: String): String =
    (0 until ZBits).map { i =>
      s"(($a // ${1L << i}) % 2) * ${1L << (2 * i)} + " +
        s"(($b // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** Z-ORDER CLUSTERED LAYOUT under the oracle: lineitem lands
    * clustered by the Morton interleave of its (orderkey, partkey)
    * buckets ([[graft.functions.ZOrderExprs.interleaveBits]], the codegen'd
    * expression `ZOrderSpec` pins against the driver function), each
    * file owning one contiguous z-range — then per z-range row counts
    * and BOTH dimensions' min/max are read back from parquet FOOTER
    * STATISTICS ONLY ([[graft.ops.LayoutAudit]]) and gated against
    * the oracle deriving the same numbers from the data.
    *
    * What the hash gate therefore proves: the interleave arithmetic
    * (replayed bit-term by bit-term in SQL), the z-range→file
    * assignment, and the footer integrity of every written file in
    * both dimensions at once. The returned min/max spans ARE the
    * multi-dimensional clustering property — at 100 TB they are what
    * lets a range predicate on EITHER column skip files without
    * touching a data page, where a linear sort serves only its
    * leading column (`ZOrderSpec` measures that pruning consequence;
    * this entry gates the layout's arithmetic end to end). */
  def qZorder(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "zorder")
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
    // both engines derive the bucket widths the same way: max DIV 64 + 1
    val r = li.agg(max("l_orderkey"), max("l_partkey")).head()
    val (ow, pw) = (r.getLong(0) / (1L << ZBits) + 1,
      r.getLong(1) / (1L << ZBits) + 1)
    li.withColumn("zk", graft.functions.ZOrderExprs.interleaveBits(
        expr(s"l_orderkey DIV $ow"), expr(s"l_partkey DIV $pw")))
      .withColumn("f", expr(s"zk DIV $ZFileWidth"))
      .repartition(col("f"))
      .sortWithinPartitions(col("zk"))
      .write.partitionBy("f").parquet(s"$tmp/z")
    val glob = s"$tmp/z/f=*/*.parquet"
    // three footer probes per file (zk recovers the z-range id from
    // the footer MIN itself, so a fabricated bound cannot hide); all
    // metadata-only, joined per file, aggregated per z-range
    val az = LayoutAudit.audit(s, glob, "zk")
      .select(col("file"), expr(s"col_min DIV $ZFileWidth").as("f"),
        col("n_rows"))
    val ao = LayoutAudit.audit(s, glob, "l_orderkey")
      .select(col("file"), col("col_min").as("omn"), col("col_max").as("omx"))
    val ap = LayoutAudit.audit(s, glob, "l_partkey")
      .select(col("file"), col("col_min").as("pmn"), col("col_max").as("pmx"))
    az.join(ao, Seq("file")).join(ap, Seq("file"))
      .groupBy(col("f"))
      .agg(sum(col("n_rows")).as("n_rows"),
        min(col("omn")).as("o_min"), max(col("omx")).as("o_max"),
        min(col("pmn")).as("p_min"), max(col("pmx")).as("p_max"))
      .orderBy(col("f"))
  }

  val qZorderSql: String =
    s"""WITH w AS (SELECT max(l_orderkey) // ${1L << ZBits} + 1 AS ow,
       |             max(l_partkey) // ${1L << ZBits} + 1 AS pw
       |           FROM lineitem),
       |b AS (SELECT l_orderkey, l_partkey,
       |        l_orderkey // (SELECT ow FROM w) AS zo,
       |        l_partkey // (SELECT pw FROM w) AS zp
       |      FROM lineitem),
       |z AS (SELECT l_orderkey, l_partkey,
       |        ${zInterleaveSql("zo", "zp")} AS zk
       |      FROM b)
       |SELECT zk // $ZFileWidth AS f, CAST(count(*) AS BIGINT) AS n_rows,
       |  min(l_orderkey) AS o_min, max(l_orderkey) AS o_max,
       |  min(l_partkey) AS p_min, max(l_partkey) AS p_max
       |FROM z GROUP BY f ORDER BY f""".stripMargin

  /** IDEMPOTENT PARTITION BACKFILL under the oracle: events land
    * date-partitioned, then a correction window (days with
    * `d % 4 = 1`: values were under-reported 2×) is recomputed and
    * written back with `partitionOverwriteMode=dynamic` — the
    * overwrite replaces ONLY the partitions the corrected frame
    * carries, runs TWICE (a re-run of the same backfill job must be a
    * content no-op), and the entry REQUIRES every out-of-window
    * partition's file set to be byte-identical before/after (the
    * static-overwrite failure mode — dropping the whole table to
    * rewrite one window — surfaces here as a require, not a silent
    * 100×-write at scale). Oracle: the corrected full recompute.
    *
    * This is the nightly-warehouse primitive at 100 TB: a backfill
    * touches the window's bytes and nothing else, and re-running a
    * crashed job converges instead of compounding. */
  def qBackfill(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "backfill")
    val dayUs = 86400L * 1000000L
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        Num.cents(col("value")).as("value_c"),
        expr(s"ts_us DIV $dayUs").as("d"))
    // initial load: one task per day before the partitioned write
    // (the qPartitionPrune lesson — O(tasks × days) files otherwise)
    ev.repartition(col("d")).write.partitionBy("d").parquet(s"$tmp/wh")
    def fileSets(): Map[String, Set[String]] = {
      val p = new org.apache.hadoop.fs.Path(s"$tmp/wh/d=*/*.parquet")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.globStatus(p).toSeq.map(_.getPath)
        .groupBy(_.getParent.getName)
        .map { case (part, ps) => part -> ps.map(_.getName).toSet }
    }
    val before = fileSets()
    val corrected = ev.filter(expr("d % 4 = 1"))
      .withColumn("value_c", col("value_c") * 2L)
    (1 to 2).foreach { _ =>
      corrected.repartition(col("d"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("d").parquet(s"$tmp/wh")
    }
    val after = fileSets()
    require(after.keySet == before.keySet,
      "backfill changed the partition set")
    before.keys.filter(_.stripPrefix("d=").toLong % 4 != 1).foreach { k =>
      require(after(k) == before(k),
        s"backfill rewrote partition $k outside its window")
    }
    s.read.parquet(s"$tmp/wh")
      .groupBy(col("d").cast("long").as("d"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .orderBy(col("d"))
  }

  val qBackfillSql: String =
    s"""WITH ev AS (SELECT epoch_us(ts) // ${86400L * 1000000L} AS d,
       |    ${Num.centsSql("value")} AS value_c
       |  FROM events),
       |c AS (SELECT d,
       |    CASE WHEN d % 4 = 1 THEN value_c * 2 ELSE value_c END AS value_c
       |  FROM ev)
       |SELECT d, count(*) AS n, ${Num.sumSql("value_c")} AS sum_c
       |FROM c GROUP BY d ORDER BY d""".stripMargin

  /** SMALL-FILE COMPACTION under the oracle: events land as a
    * deliberately FRAGMENTED warehouse (every shuffle task writes
    * into every day's directory — the streaming-landing symptom),
    * then the compactor rewrites it clustered (one task per day) with
    * a scale-adaptive records-per-file target
    * (`greatest(1000, total DIV 64)` — derived identically by both
    * engines, so the target grows with the corpus instead of
    * re-fragmenting large days). The per-day FILE COUNT is part of
    * the oracle-gated output: one writer task per day splitting at
    * exactly maxRecordsPerFile records means
    * `n_files = ceil(n / target)` — the bin-packing arithmetic
    * replays in SQL, so a compactor that silently splits a day across
    * writers or overshoots the target hash-mismatches. Content
    * preservation (counts + exact sums) rides the same gate, and the
    * entry REQUIRES the total file count to actually drop.
    *
    * At 100 TB the small-file problem is a metadata DDoS: a listing
    * of 10M 1 MB files costs more than the scan; this is the
    * compaction loop that fixes it, with its invariants as data. */
  def qCompactFiles(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "compact")
    val dayUs = 86400L * 1000000L
    val ev = Tables.events(s, dir)
      .select(col("event_id"),
        Num.cents(col("value")).as("value_c"),
        expr(s"ts_us DIV $dayUs").as("d"))
    // fragmented landing: 8 tasks × every day they carry rows for
    ev.repartition(8, col("event_id"))
      .write.partitionBy("d").parquet(s"$tmp/frag")
    def nFiles(root: String): Long = {
      val p = new org.apache.hadoop.fs.Path(s"$root/d=*/*.parquet")
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .globStatus(p).length.toLong
    }
    val fragFiles = nFiles(s"$tmp/frag")
    val frag = s.read.parquet(s"$tmp/frag")
    val target = math.max(1000L, frag.count() / 64L)
    frag.repartition(col("d"))
      .write.option("maxRecordsPerFile", target)
      .partitionBy("d").parquet(s"$tmp/compact")
    val compactFiles = nFiles(s"$tmp/compact")
    require(compactFiles < fragFiles,
      s"compaction did not reduce files: $fragFiles -> $compactFiles")
    s.read.parquet(s"$tmp/compact")
      // project first: input_file_name is nondeterministic, so it
      // must bind in a Project, not inside the aggregate itself
      .withColumn("fn", input_file_name())
      .groupBy(col("d").cast("long").as("d"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"),
        count_distinct(col("fn")).as("n_files"))
      .orderBy(col("d"))
  }

  val qCompactFilesSql: String =
    s"""WITH ev AS (SELECT epoch_us(ts) // ${86400L * 1000000L} AS d,
       |    ${Num.centsSql("value")} AS value_c
       |  FROM events),
       |t AS (SELECT greatest(1000, count(*) // 64) AS target FROM ev),
       |g AS (SELECT d, count(*) AS n,
       |        ${Num.sumSql("value_c")} AS sum_c
       |      FROM ev GROUP BY d)
       |SELECT d, n, sum_c,
       |  (n + (SELECT target FROM t) - 1) // (SELECT target FROM t) AS n_files
       |FROM g ORDER BY d""".stripMargin

  /** TIME TRAVEL over a snapshot-versioned table
    * ([[graft.ops.SnapTable]]): a per-day aggregate is published as
    * v1 (overwrite: first half of the timeline), v2 (APPEND: the
    * second half — the manifest carries v1's files, no data copied),
    * and v3 (overwrite: a corrected republish with doubled sums).
    * The entry then reads ALL THREE versions back — history stays
    * readable after later commits — and plants a TORN commit (a
    * staged data directory with no manifest) that the reads must not
    * see; both invariants are `require`d, and the per-version
    * (n_days, total) pairs are hash-gated against the oracle
    * reconstructing each snapshot's state from raw events.
    *
    * The 100 TB story: publish/backfill/correct cycles become atomic
    * versioned snapshots — a reader mid-query keeps its version, a
    * crashed publisher leaves nothing visible, and an audit can
    * re-read exactly what any past consumer saw. */
  def qTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "snap")
    val tbl = s"$tmp/tbl"
    val dayUs = 86400L * 1000000L
    val ev = Tables.events(s, dir)
      .select(expr(s"ts_us DIV $dayUs").as("d"),
        Num.cents(col("value")).as("value_c"))
    // ONE events scan+shuffle feeds all three commits AND the split
    // point: the per-day state is small (day cardinality), so it
    // persists and each commit stages from memory instead of
    // re-aggregating the corpus
    val perDay = ev.groupBy(col("d"))
      .agg(count(lit(1)).as("n_rows"), sum(col("value_c")).as("sum_c"))
      .persist()
    // both engines derive the split the same way: (min+max) DIV 2 —
    // computed from the PERSISTED day aggregate (min/max of d over
    // per-day rows ≡ over raw events), not a second corpus scan
    val mm = perDay.agg(min("d"), max("d")).head()
    val dmid = (mm.getLong(0) + mm.getLong(1)) / 2
    try {
      SnapTable.commit(s, perDay.filter(col("d") < dmid), tbl, "overwrite")
      SnapTable.commit(s, perDay.filter(col("d") >= dmid), tbl, "append")
      SnapTable.commit(s,
        perDay.withColumn("sum_c", col("sum_c") * 2L), tbl, "overwrite")
      // torn commit: staged data, no manifest — must stay invisible
      perDay.limit(5).write.parquet(s"$tbl/data/b99")
      val nDays = perDay.count()
      require(SnapTable.versions(s, tbl) == Seq(1, 2, 3),
        "torn staging directory leaked into the version list")
      require(SnapTable.read(s, tbl, Some(3)).count() == nDays,
        "torn staging directory leaked into a snapshot read")
    } finally perDay.unpersist(false)
    // the result reads from the COMMITTED snapshots, not the cache
    (1 to 3).map { v =>
      SnapTable.read(s, tbl, Some(v))
        .agg(count(lit(1)).as("n_days"), sum(col("sum_c")).as("total"))
        .select(lit(v.toLong).as("version"), col("n_days"), col("total"))
    }.reduce(_.union(_)).orderBy(col("version"))
  }

  val qTimeTravelSql: String =
    s"""WITH ev AS (SELECT epoch_us(ts) // ${86400L * 1000000L} AS d,
       |    ${Num.centsSql("value")} AS value_c
       |  FROM events),
       |m AS (SELECT (min(d) + max(d)) // 2 AS dmid FROM ev),
       |pd AS (SELECT d, ${Num.sumSql("value_c")} AS sum_c
       |       FROM ev GROUP BY d)
       |SELECT CAST(1 AS BIGINT) AS version,
       |  CAST(count(*) AS BIGINT) AS n_days,
       |  ${Num.sumSql("sum_c")} AS total
       |FROM pd WHERE d < (SELECT dmid FROM m)
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
       |  ${Num.sumSql("sum_c")} FROM pd
       |UNION ALL
       |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
       |  ${Num.sumSql("2 * sum_c")} FROM pd
       |ORDER BY version""".stripMargin

  /** SNAPSHOT RETENTION GC ([[SnapTable.vacuum]]) under the oracle:
    * three overwrite snapshots of the per-day aggregate plus a torn
    * staging directory at head+1 — exactly where a LIVE committer's
    * in-flight data sits — then `vacuum(keep = 2)`. v1's manifest and
    * its now-unreferenced batch go; the head+1 staging is REQUIRED to
    * survive (the in-flight grace: vacuum deleting a mid-commit
    * writer's staging would publish a manifest over vanished files —
    * a committed-but-unreadable snapshot); the kept versions' reads
    * are REQUIRED untouched. A fourth commit then moves the head past
    * the (now provably abandoned) staging and a second vacuum is
    * REQUIRED to reclaim it — garbage at or below the head lost its
    * race by definition. All retained states hash-gate against the
    * oracle's per-state reconstruction. Retention is the storage-cost
    * half of the time-travel contract: history is readable exactly as
    * far back as the horizon, and nothing a kept manifest references
    * is ever a deletion candidate (reference counting over manifests,
    * not file ages — an age-based GC deletes files a long-lived
    * snapshot still needs). */
  def qSnapshotVacuum(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "vac")
    val tbl = s"$tmp/tbl"
    val dayUs = 86400L * 1000000L
    val ev = Tables.events(s, dir)
      .select(expr(s"ts_us DIV $dayUs").as("d"),
        Num.cents(col("value")).as("value_c"))
    // ONE events scan+shuffle feeds the split point, all four commits
    // and the torn staging: the per-day state is day-cardinality small,
    // so it persists for the entry's scope (min/max of d over per-day
    // rows ≡ over raw events)
    val perDay = ev.groupBy(col("d"))
      .agg(count(lit(1)).as("n_rows"), sum(col("value_c")).as("sum_c"))
      .scopedCache()
    val mm = perDay.agg(min("d"), max("d")).head()
    val dmid = (mm.getLong(0) + mm.getLong(1)) / 2
    SnapTable.commit(s, perDay.filter(col("d") < dmid), tbl, "overwrite")
    SnapTable.commit(s, perDay, tbl, "overwrite")
    SnapTable.commit(s,
      perDay.withColumn("sum_c", col("sum_c") * 2L), tbl, "overwrite")
    val v1Files = SnapTable.files(s, tbl, 1)
    // torn/in-flight staging at head+1: data written, manifest not yet
    val inFlight = "data/b4-inflight0"
    perDay.limit(3).write.parquet(s"$tbl/$inFlight")
    val removed = SnapTable.vacuum(s, tbl, keep = 2)
    require(removed > 0, "vacuum reclaimed nothing")
    require(SnapTable.versions(s, tbl) == Seq(2, 3),
      "vacuum did not retire exactly the pre-horizon version")
    val fsys = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    v1Files.foreach { dead =>
      require(!fsys.exists(new org.apache.hadoop.fs.Path(tbl, dead)),
        s"vacuum left unreferenced data behind: $dead")
    }
    require(fsys.exists(new org.apache.hadoop.fs.Path(tbl, inFlight)),
      "vacuum deleted head+1 staging a live committer could still claim")
    // the head passes the abandoned staging; now it is reclaimable
    SnapTable.commit(s, perDay, tbl, "overwrite")
    require(SnapTable.vacuum(s, tbl, keep = 3) > 0,
      "second vacuum reclaimed nothing")
    require(!fsys.exists(new org.apache.hadoop.fs.Path(tbl, inFlight)),
      "abandoned staging below the head was never reclaimed")
    (2 to 4).map { v =>
      SnapTable.read(s, tbl, Some(v))
        .agg(count(lit(1)).as("n_days"), sum(col("sum_c")).as("total"))
        .select(lit(v.toLong).as("version"), col("n_days"), col("total"))
    }.reduce(_.union(_)).orderBy(col("version"))
  }

  val qSnapshotVacuumSql: String =
    s"""WITH ev AS (SELECT epoch_us(ts) // ${86400L * 1000000L} AS d,
       |    ${Num.centsSql("value")} AS value_c
       |  FROM events),
       |pd AS (SELECT d, ${Num.sumSql("value_c")} AS sum_c
       |       FROM ev GROUP BY d)
       |SELECT CAST(2 AS BIGINT) AS version,
       |  CAST(count(*) AS BIGINT) AS n_days,
       |  ${Num.sumSql("sum_c")} AS total
       |FROM pd
       |UNION ALL
       |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
       |  ${Num.sumSql("2 * sum_c")} FROM pd
       |UNION ALL
       |SELECT CAST(4 AS BIGINT), CAST(count(*) AS BIGINT),
       |  ${Num.sumSql("sum_c")} FROM pd
       |ORDER BY version""".stripMargin

  /** CHANGE DATA FEED between two snapshot states
    * ([[SnapTable.diff]]): per-user totals for the timeline's first
    * half (v1) and second half (v2) are committed as successive
    * overwrite snapshots of one table, then diffed by key — users
    * only in v2 emit I, only in v1 emit D, present in both with a
    * moved total emit U; unchanged keys are suppressed. One
    * full-outer shuffle join; the oracle replays it as SQL FULL
    * OUTER JOIN over the two reconstructed states. The downstream
    * consumer at 100 TB reads this feed instead of re-scanning two
    * full snapshots to find what moved. */
  def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "cdf")
    val tbl = s"$tmp/users"
    val dayUs = 86400L * 1000000L
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr(s"ts_us DIV $dayUs").as("d"),
        Num.cents(col("value")).as("value_c"))
    // ONE events scan: the (user, day) pre-aggregate is the shared
    // base for the split point and both half-totals — the raw corpus
    // is never rescanned (sum over per-day sums ≡ sum over events)
    val ud = ev.groupBy(col("user_id"), col("d"))
      .agg(sum(col("value_c")).as("sum_c")).scopedCache()
    val mm = ud.agg(min("d"), max("d")).head()
    val dmid = (mm.getLong(0) + mm.getLong(1)) / 2
    def totals(p: DataFrame) = p.groupBy(col("user_id"))
      .agg(sum(col("sum_c")).as("sum_c"))
    SnapTable.commit(s, totals(ud.filter(col("d") < dmid)), tbl, "overwrite")
    SnapTable.commit(s, totals(ud.filter(col("d") >= dmid)), tbl, "overwrite")
    SnapTable.diff(
        SnapTable.read(s, tbl, Some(1)), SnapTable.read(s, tbl, Some(2)),
        key = "user_id", value = "sum_c")
      .orderBy(col("user_id"))
  }

  val qSnapshotDiffSql: String =
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) // ${86400L * 1000000L} AS d,
       |    ${Num.centsSql("value")} AS value_c
       |  FROM events),
       |m AS (SELECT (min(d) + max(d)) // 2 AS dmid FROM ev),
       |a AS (SELECT user_id, ${Num.sumSql("value_c")} AS old_sum_c
       |      FROM ev WHERE d < (SELECT dmid FROM m) GROUP BY user_id),
       |b AS (SELECT user_id, ${Num.sumSql("value_c")} AS new_sum_c
       |      FROM ev WHERE d >= (SELECT dmid FROM m) GROUP BY user_id)
       |SELECT coalesce(a.user_id, b.user_id) AS user_id,
       |  a.old_sum_c, b.new_sum_c,
       |  CASE WHEN a.user_id IS NULL THEN 'I'
       |       WHEN b.user_id IS NULL THEN 'D'
       |       ELSE 'U' END AS op
       |FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
       |WHERE a.user_id IS NULL OR b.user_id IS NULL
       |   OR a.old_sum_c <> b.new_sum_c
       |ORDER BY user_id""".stripMargin

  /** INCREMENTAL MATERIALIZED-VIEW MAINTENANCE under the oracle
    * ([[graft.ops.Mv.additiveMerge]]): the standing per-user MV
    * (count + exact sum) is built from the timeline's first half and
    * committed as snapshot v1; the second half arrives as a DELTA
    * whose pre-aggregated contribution merges into the MV READ BACK
    * FROM v1 — one key-bounded full-outer join, the first half's raw
    * events never rescanned — and v2 publishes the refreshed MV on
    * the same atomic snapshot protocol. The oracle recomputes the MV
    * from ALL raw events in one pass: hash equality proves the
    * incremental path is exactly the full recompute, which is the
    * entire contract of MV maintenance at 100 TB (the refresh cost is
    * the delta + the key space, not the history). */
  def qIncrementalMv(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "mv")
    val tbl = s"$tmp/mv"
    val dayUs = 86400L * 1000000L
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr(s"ts_us DIV $dayUs").as("d"),
        Num.cents(col("value")).as("value_c"))
    // ONE events scan: (user, day) partials feed the split point, the
    // v1 state and the delta (count ≡ sum of per-day counts; sum ≡
    // sum of per-day sums) — the history is never rescanned
    val ud = ev.groupBy(col("user_id"), col("d"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .scopedCache()
    val mm = ud.agg(min("d"), max("d")).head()
    val dmid = (mm.getLong(0) + mm.getLong(1)) / 2
    def agg(p: DataFrame) = p.groupBy(col("user_id"))
      .agg(sum(col("n")).as("n"), sum(col("sum_c")).as("sum_c"))
    SnapTable.commit(s, agg(ud.filter(col("d") < dmid)), tbl, "overwrite")
    val delta = agg(ud.filter(col("d") >= dmid))
    val refreshed = Mv.additiveMerge(
      SnapTable.read(s, tbl, Some(1)), delta,
      key = "user_id", cols = Seq("n", "sum_c"))
    SnapTable.commit(s, refreshed, tbl, "overwrite")
    SnapTable.read(s, tbl, Some(2)).orderBy(col("user_id"))
  }

  val qIncrementalMvSql: String =
    s"""WITH ev AS (SELECT user_id,
       |    ${Num.centsSql("value")} AS value_c
       |  FROM events)
       |SELECT user_id, count(*) AS n, ${Num.sumSql("value_c")} AS sum_c
       |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin

  /** MERGE INTO on the snapshot protocol (the Delta MERGE shape):
    * read the latest version -> fold a changes frame of keyed upserts
    * and delete tombstones ([[graft.ops.Upsert.applyChanges]], one
    * full-outer equi-join) -> commit the result as version v+1, with
    * TIME TRAVEL across the merge (the pre-merge state stays readable
    * by version). The base is the per-(user, week) state of the
    * timeline's first half; the changes are the post-boundary
    * reality: cells touched by the second half arrive as wholesale
    * row replacements (full recomputed totals), every cell of the
    * `user_id % 10 == 4` users arrives as a repricing CORRECTION
    * (same wholesale-replacement shape — this is what guarantees the
    * update class at any scale factor, where a replicated timeline's
    * era gaps can leave no week spanning the boundary), and every
    * cell of the `user_id % 10 == 3` subjects arrives as a tombstone.
    * The entry REQUIRES all three MERGE classes non-empty — inserts
    * (cells born in the second half), updates (corrected or
    * boundary-week cells present in the base), deletes (tombstoned
    * cells present in the base) — and the
    * pre-merge version bit-unchanged after the commit. Oracle: the
    * merged state reconstructed relationally from raw events.
    *
    * At 100 TB the join shuffles on the merge key (or broadcasts a
    * small changes side / runs exchange-free on bucketed layouts —
    * `q_bucketed_join`), and the commit is O(result files) + one
    * manifest: MERGE is a plan plus a rename, never an in-place
    * mutation. */
  def qSnapshotMerge(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "merge")
    val tbl = s"$tmp/tbl"
    val dayUs = 86400L * 1000000L
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr(s"ts_us DIV $dayUs").as("d"),
        Num.cents(col("value")).as("value_c"))
    // ONE events scan: (user, week, day) partials feed the split
    // point, both cell aggregates and the touched set — counts/sums
    // over the partials telescope to the raw-event aggregates
    val wk = ev.withColumn("w", expr("d DIV 7"))
      .groupBy(col("user_id"), col("w"), col("d"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .scopedCache()
    val mm = wk.agg(min("d"), max("d")).head()
    val dmid = (mm.getLong(0) + mm.getLong(1)) / 2
    def cells(p: DataFrame) = p.groupBy(col("user_id"), col("w"))
      .agg(sum(col("n")).as("n"), sum(col("sum_c")).as("sum_c"))
      .select(concat_ws(":", col("user_id"), col("w")).as("uk"),
        col("user_id"), col("w"), col("n"), col("sum_c"))
    SnapTable.commit(s, cells(wk.filter(col("d") < dmid)), tbl, "overwrite")
    val baseCount = SnapTable.read(s, tbl, Some(1)).count()
    // changes: every cell the second half touched (wholesale
    // replacement rows carrying FULL totals) plus tombstones for all
    // cells of the erased subjects
    val touched = wk.filter(col("d") >= dmid)
      .select(concat_ws(":", col("user_id"), col("w")).as("uk")).distinct()
    val changes = cells(wk)
      .withColumn("del", pmod(col("user_id"), lit(10L)) === 3L)
      .withColumn("corr", pmod(col("user_id"), lit(10L)) === 4L)
      .join(touched.withColumn("inc", lit(true)), Seq("uk"), "left")
      .filter(col("del") || col("corr") || coalesce(col("inc"), lit(false)))
      .drop("inc", "corr").withColumnRenamed("del", "deleted")
    val baseKeys = SnapTable.read(s, tbl, Some(1)).select(col("uk"))
    val ups = changes.filter(!col("deleted"))
    val nI = ups.join(baseKeys, Seq("uk"), "left_anti").count()
    val nU = ups.join(baseKeys, Seq("uk"), "left_semi").count()
    val nD = changes.filter(col("deleted"))
      .join(baseKeys, Seq("uk"), "left_semi").count()
    require(nI > 0 && nU > 0 && nD > 0,
      s"MERGE must exercise all three classes: I=$nI U=$nU D=$nD")
    val merged = Upsert.applyChanges(
      SnapTable.read(s, tbl, Some(1)), changes, "uk", "deleted")
    SnapTable.commit(s, merged, tbl, "overwrite")
    require(SnapTable.read(s, tbl, Some(1)).count() == baseCount,
      "the merge mutated the pre-merge snapshot")
    SnapTable.read(s, tbl, Some(2))
      .select(col("uk"), col("n"), col("sum_c"))
      .orderBy(col("uk"))
  }

  val qSnapshotMergeSql: String =
    s"""WITH ev AS (SELECT user_id,
       |    epoch_us(ts) // ${86400L * 1000000L} AS d,
       |    ${Num.centsSql("value")} AS value_c
       |  FROM events),
       |m AS (SELECT (min(d) + max(d)) // 2 AS dmid FROM ev),
       |wk AS (SELECT user_id, d // 7 AS w, d, value_c FROM ev),
       |base AS (SELECT user_id, w, CAST(count(*) AS BIGINT) AS n,
       |           ${Num.sumSql("value_c")} AS sum_c
       |         FROM wk WHERE d < (SELECT dmid FROM m)
       |         GROUP BY user_id, w),
       |fullc AS (SELECT user_id, w, CAST(count(*) AS BIGINT) AS n,
       |            ${Num.sumSql("value_c")} AS sum_c
       |          FROM wk GROUP BY user_id, w),
       |touched AS (SELECT DISTINCT user_id, w FROM wk
       |            WHERE d >= (SELECT dmid FROM m)
       |            UNION
       |            SELECT DISTINCT user_id, w FROM wk
       |            WHERE user_id % 10 = 4),
       |merged AS (
       |  SELECT f.user_id, f.w, f.n, f.sum_c
       |  FROM fullc f JOIN touched t
       |    ON f.user_id = t.user_id AND f.w = t.w
       |  UNION ALL
       |  SELECT b.user_id, b.w, b.n, b.sum_c FROM base b
       |  WHERE NOT EXISTS (SELECT 1 FROM touched t
       |                    WHERE t.user_id = b.user_id AND t.w = b.w))
       |SELECT concat(user_id, ':', w) AS uk, n, sum_c
       |FROM merged WHERE user_id % 10 <> 3
       |ORDER BY uk""".stripMargin

  /** CDC-FED CONTINUOUS MV MAINTENANCE
    * ([[graft.streaming.CdcStream.runMaintain]]): the source table
    * publishes four successive per-(user, day) states — two
    * progressive-arrival waves, the complete corpus, then a
    * data-quality RETRACTION dropping error events — and a consumer
    * drain walks the version stream, diffing each state against its
    * predecessor ([[SnapTable.diff]], I/U/D per cell), reducing each
    * change set to the user grain, and folding it into a standing MV
    * ([[Mv.additiveMerge]]) republished on the snapshot protocol
    * tagged with the consumed source version — THE CURSOR IS THE TAG,
    * so the entry REQUIRES a second drain pass to fold exactly zero
    * versions (redelivery idempotence from the MV's own commit log)
    * and all four folds to be real committed versions. The MV carries
    * a live-cell count per user (inserts minus deletes telescoped), so
    * fully-retracted users surface as n_cells = 0 and are tombstoned
    * out of the published view. Oracle: the FULL recompute from raw
    * events — four diff-folds must be bit-identical to one scan,
    * which is the entire contract of incremental maintenance (cost =
    * change sets + key space, never the re-read history). */
  def qCdcMvStream(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "cdcmv")
    val (src, mvt) = (s"$tmp/src", s"$tmp/mv")
    val dayUs = 86400L * 1000000L
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr(s"ts_us DIV $dayUs").as("d"),
        Num.cents(col("value")).as("value_c"))
    def state(p: DataFrame) = p.groupBy(col("user_id"), col("d"))
      .agg(sum(col("value_c")).as("sum_c"))
      .withColumn("sk", concat_ws(":", col("user_id"), col("d")))
    SnapTable.commit(s,
      state(ev.filter(pmod(col("event_id"), lit(3L)) < 1)), src, "overwrite")
    SnapTable.commit(s,
      state(ev.filter(pmod(col("event_id"), lit(3L)) < 2)), src, "overwrite")
    SnapTable.commit(s, state(ev), src, "overwrite")
    SnapTable.commit(s,
      state(ev.filter(col("event_type") =!= "error")), src, "overwrite")
    val contrib: DataFrame => DataFrame = d => d.groupBy(col("user_id"))
      .agg(
        sum(when(col("op") === "I", 1L).when(col("op") === "D", -1L)
          .otherwise(0L)).as("n_cells"),
        sum(coalesce(col("new_sum_c"), lit(0L)) -
          coalesce(col("old_sum_c"), lit(0L))).as("sum_c"))
    def drain(): Int = CdcStream.runMaintain(s, src, mvt,
      key = "sk", value = "sum_c", carry = Seq("user_id"),
      contrib = contrib, mvKey = "user_id",
      mvCols = Seq("n_cells", "sum_c"))
    require(drain() == 4, "consumer did not fold all four source versions")
    require(drain() == 0, "redelivered drain re-folded a consumed version")
    require(SnapTable.versions(s, mvt).size == 4,
      "each fold must republish the MV as one tagged snapshot")
    SnapTable.read(s, mvt)
      .filter(col("n_cells") > 0L)
      .orderBy(col("user_id"))
  }

  val qCdcMvStreamSql: String =
    s"""WITH ev AS (SELECT user_id,
       |    epoch_us(ts) // ${86400L * 1000000L} AS d,
       |    ${Num.centsSql("value")} AS value_c
       |  FROM events WHERE event_type <> 'error')
       |SELECT user_id,
       |  CAST(count(DISTINCT d) AS BIGINT) AS n_cells,
       |  ${Num.sumSql("value_c")} AS sum_c
       |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin

  /** TARGETED DELETE (the right-to-be-forgotten loop) under the
    * oracle: events land clustered into user-range buckets, then
    * three users — derived identically by both engines from
    * max(user_id) — are erased by rewriting ONLY the files whose
    * parquet FOOTER min/max could contain them
    * ([[graft.ops.LayoutAudit]] is the planner: the rewrite set is
    * decided from metadata, no data page read during planning). The
    * rewrite lands via dynamic partition overwrite; a bucket left
    * EMPTY by the delete is removed explicitly (the dynamic-overwrite
    * blind spot — an empty frame overwrites nothing, which would
    * leave the deleted rows readable). The entry REQUIRES every
    * unaffected bucket's file set byte-identical. Oracle: the
    * post-delete state recomputed from raw events.
    *
    * At 100 TB this is the difference between rewriting ~3 files and
    * rewriting the corpus: erasure cost scales with the subject's
    * data locality, not the table size. */
  def qTargetedDelete(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "erase")
    val wh = s"$tmp/wh"
    val ev = Tables.events(s, dir)
      .select(col("user_id"), Num.cents(col("value")).as("value_c"))
    // both engines derive buckets and the delete set the same way
    val umax = ev.agg(max("user_id")).head().getLong(0)
    val width = umax / 8 + 1
    val dels = Seq(umax / 7, umax / 2, umax - 1).distinct
    ev.withColumn("b", expr(s"user_id DIV $width"))
      .repartition(col("b")).write.partitionBy("b").parquet(wh)
    def fileSets(): Map[String, Set[String]] = {
      val p = new org.apache.hadoop.fs.Path(s"$wh/b=*/*.parquet")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.globStatus(p).toSeq.map(_.getPath)
        .groupBy(_.getParent.getName)
        .map { case (part, ps) => part -> ps.map(_.getName).toSet }
    }
    val before = fileSets()
    // PLAN FROM METADATA: candidate files = footer range intersects a
    // delete key; rewrite set = their partition dirs (bounded, <= 3)
    val audit = LayoutAudit.audit(s, s"$wh/b=*/*.parquet", "user_id")
    val hit = audit.filter(
        dels.map(u => col("col_min") <= u && col("col_max") >= u)
          .reduce(_ || _))
      .select(col("file")).collect()
      .map(_.getString(0).split('/')(0)).distinct.toSeq.sorted
    require(hit.nonEmpty && hit.size <= dels.size,
      s"erasure plan should touch at most ${dels.size} buckets: $hit")
    val remaining = s.read.option("basePath", wh)
      .parquet(hit.map(h => s"$wh/$h"): _*)
      .filter(!col("user_id").isin(dels: _*))
    // surviving buckets BEFORE the rewrite: `remaining` is a lazy plan
    // over the files the overwrite below replaces — evaluating it
    // afterwards would read deleted files
    val still = remaining.select(col("b").cast("string"))
      .distinct().collect().map(r => s"b=${r.getString(0)}").toSet
    remaining.repartition(col("b"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("b").parquet(wh)
    // a bucket emptied by the delete never reaches the writer above —
    // remove its directory explicitly or the old rows stay readable
    val fsys = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    hit.filterNot(still).foreach { dead =>
      fsys.delete(new org.apache.hadoop.fs.Path(wh, dead), true)
    }
    val after = fileSets()
    before.keys.filterNot(hit.contains).foreach { k =>
      require(after.get(k).contains(before(k)),
        s"erasure rewrote unaffected bucket $k")
    }
    s.read.parquet(wh)
      .groupBy(col("b").cast("long").as("b"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .orderBy(col("b"))
  }

  val qTargetedDeleteSql: String =
    s"""WITH ev AS (SELECT user_id, ${Num.centsSql("value")} AS value_c
       |  FROM events),
       |m AS (SELECT max(user_id) AS um FROM ev),
       |del AS (SELECT um // 7 AS u FROM m
       |        UNION SELECT um // 2 FROM m
       |        UNION SELECT um - 1 FROM m),
       |kept AS (SELECT user_id // ((SELECT um FROM m) // 8 + 1) AS b,
       |           value_c
       |         FROM ev WHERE user_id NOT IN (SELECT u FROM del))
       |SELECT b, count(*) AS n, ${Num.sumSql("value_c")} AS sum_c
       |FROM kept GROUP BY b ORDER BY b""".stripMargin

  /** COMMIT-RETRY LIVENESS under the oracle
    * ([[SnapTable.commitRetry]]): two REAL committer threads race
    * appends of disjoint halves of the per-user state into one empty
    * snapshot table, released through a latch so both derive the same
    * head. Optimistic concurrency guarantees ONE loses its claim; the
    * retry loop re-derives (new head, new carried pointer, fresh
    * staging) and lands it as the next version — the entry REQUIRES
    * the two commits to take exactly versions {1, 2} (linearized, no
    * version skipped or double-claimed) and the final snapshot is
    * hash-gated against the full per-user recompute: BOTH halves
    * landed exactly once, whichever writer won. The staging nonce is
    * what makes this safe — the loser reclaims only its own attempt's
    * files (`SnapTableSpec` asserts no leak on the same race). */
  def qCommitRetry(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "race")
    val tbl = s"$tmp/tbl"
    val agg = Tables.events(s, dir)
      .select(col("user_id"), Num.cents(col("value")).as("value_c"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
    val even = agg.filter(pmod(col("user_id"), lit(2L)) === 0L)
    val odd = agg.filter(pmod(col("user_id"), lit(2L)) === 1L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val gate = new java.util.concurrent.CountDownLatch(2)
    def racer(df: DataFrame) =
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          gate.countDown(); gate.await()
          SnapTable.commitRetry(s, df, tbl, "append")
        }
      })
    val (fa, fb) = (racer(even), racer(odd))
    val (va, vb) = (fa.get(), fb.get())
    pool.shutdown()
    require(Set(va, vb) == Set(1, 2),
      s"racing commits did not linearize: got versions ($va, $vb)")
    require(SnapTable.versions(s, tbl) == Seq(1, 2),
      "commit race corrupted the version list")
    SnapTable.read(s, tbl).orderBy(col("user_id"))
  }

  /** Same full recompute as the incremental-MV oracle: the racing
    * appends must land exactly the per-user state, no row lost to the
    * lost race, none doubled by the retry. */
  val qCommitRetrySql: String = qIncrementalMvSql

  /** WRITE-AUDIT-PUBLISH under the oracle (the Iceberg WAP / Delta
    * CHECK-constraint gate, [[SnapTable.commit]]'s `audit` hook): a
    * constraint — "no error-typed rows enter this table" — runs
    * against the STAGED bytes between the data write and the manifest
    * claim. The clean slice publishes; the poisoned batch is REFUSED
    * and the entry REQUIRES the table bit-unchanged after the refusal
    * (version list AND row count — a failed audit publishes nothing,
    * because readers only ever see manifests); the poisoned batch
    * then enters after repair. Bad data is stopped at the table
    * boundary, not discovered downstream — at 100 TB the audit reads
    * only the BATCH being staged, never the table. Oracle: the final
    * state is exactly the non-error corpus. */
  def qCommitAudit(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "wap")
    val tbl = s"$tmp/tbl"
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        Num.cents(col("value")).as("value_c"))
    val noErrors: DataFrame => Unit = staged =>
      require(staged.filter(col("event_type") === "error").isEmpty,
        "audit refused: error-typed rows in the staged batch")
    val half = ev.agg(max("event_id")).head().getLong(0) / 2
    SnapTable.commit(s,
      ev.filter(col("event_id") <= half && col("event_type") =!= "error"),
      tbl, "overwrite", audit = Some(noErrors))
    val before = SnapTable.read(s, tbl).count()
    val poisoned = ev.filter(col("event_id") > half)
    val refused = scala.util.Try(
      SnapTable.commit(s, poisoned, tbl, "append", audit = Some(noErrors)))
    require(refused.isFailure, "the audit admitted a poisoned batch")
    require(SnapTable.versions(s, tbl) == Seq(1),
      "a refused commit minted a version")
    require(SnapTable.read(s, tbl).count() == before,
      "a refused commit changed the readable table")
    SnapTable.commit(s,
      poisoned.filter(col("event_type") =!= "error"),
      tbl, "append", audit = Some(noErrors))
    SnapTable.read(s, tbl)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .orderBy(col("event_type"))
  }

  val qCommitAuditSql: String =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |  ${Num.sumSql(Num.centsSql("value"))} AS sum_c
       |FROM events WHERE event_type <> 'error'
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** FOOTER-PLANNED DATA SKIPPING on the snapshot table
    * ([[SnapTable.readRange]] — Iceberg-style scan planning: manifest
    * names the files, footers bound the key, only intersecting files
    * open): the fact slice lands range-clustered as v1, then a
    * selective key-range query (the middle ~quarter, derived
    * identically by both engines from max) plans its file set from
    * METADATA ONLY. The entry REQUIRES real pruning — strictly fewer
    * files opened than the snapshot holds (the planner only admits
    * intersecting footers, and a stat-less file is read rather than
    * proven out — bounds admit, absence never excludes). Oracle: the plain
    * range filter over raw data — skipping is pass-through or it is
    * wrong. At 100 TB this read costs O(matching files) + one footer
    * per file, the entire value of keeping layouts clustered. */
  def qSnapshotPrune(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "snapprune")
    val tbl = s"$tmp/tbl"
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), Num.cents(col("l_quantity")).as("qty_c"))
    SnapTable.commit(s,
      li.repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")),
      tbl, "overwrite")
    val kmax = li.agg(max("l_orderkey")).head().getLong(0)
    val (lo, hi) = (kmax / 4, kmax / 2)
    val total = SnapTable.files(s, tbl, 1).size
    val out = SnapTable.readRange(s, tbl, Some(1), "l_orderkey", lo, hi)._2
      .groupBy(pmod(col("l_orderkey"), lit(8L)).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("qty_c")).as("qty_sum_c"))
      .orderBy(col("bucket"))
    val opened = SnapTable.scannedFiles(out).size
    require(opened >= 1 && opened < total,
      s"footer planning pruned nothing: $opened of $total files")
    out
  }

  val qSnapshotPruneSql: String =
    s"""WITH m AS (SELECT max(l_orderkey) AS km FROM lineitem)
       |SELECT l_orderkey % 8 AS bucket,
       |  CAST(count(*) AS BIGINT) AS n,
       |  ${Num.sumSql(Num.centsSql("l_quantity"))} AS qty_sum_c
       |FROM lineitem
       |WHERE l_orderkey >= (SELECT km // 4 FROM m)
       |  AND l_orderkey <= (SELECT km // 2 FROM m)
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** MANIFEST-PLANNED DATA SKIPPING — the step past `q_snapshot_prune`
    * that real table formats take ([[SnapTable.commit]] `statsCols` +
    * [[SnapTable.read]] then `filter`): the COMMIT records per-file min/max
    * into the manifest (one footer pass over only the fresh files,
    * paid once), so the selective read's file pruning is a pure
    * driver decision over manifest text — ZERO footer probes at query
    * time, where readRange pays one per file per query. At 100 TB
    * (millions of files) that is the difference between a planner
    * decision and a million metadata RPCs — Iceberg's min/max-stats
    * design, re-expressed. The entry REQUIRES, of the files its own
    * scan admits ([[SnapTable.scannedFiles]]): (1) strictly fewer
    * than the snapshot holds, and (2) the manifest plan EQUAL to the
    * footer-derived plan on the same range — recorded bounds must be
    * the footer truth, or skipping silently drops rows. The append
    * chain proves stats flow through `#base:` resolution, not just
    * flat manifests. Oracle: the plain range filter over raw data —
    * skipping is pass-through or it is wrong. */
  def qSnapshotSkip(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "snapskip")
    val tbl = s"$tmp/tbl"
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        Num.cents(col("l_extendedprice")).as("price_c"))
    def clustered(df: DataFrame): DataFrame =
      df.repartitionByRange(4, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
    // two commits — an overwrite then an append — each clustered and
    // stats-recorded; the read below must plan across the chain
    SnapTable.commit(s, clustered(li.filter(col("l_linenumber") <= 3)),
      tbl, "overwrite", statsCols = Seq("l_orderkey"))
    SnapTable.commit(s, clustered(li.filter(col("l_linenumber") > 3)),
      tbl, "append", statsCols = Seq("l_orderkey"))
    val kmax = li.agg(max("l_orderkey")).head().getLong(0)
    val (lo, hi) = (kmax / 4, kmax / 2)
    val total = SnapTable.files(s, tbl, 2).size
    val out = SnapTable.read(s, tbl, Some(2))
      .filter(col("l_orderkey").between(lo, hi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("price_c")).as("price_sum_c"))
      .orderBy(col("l_returnflag"))
    val picked = SnapTable.scannedFiles(out)
    require(picked.nonEmpty && picked.size < total,
      s"manifest planning pruned nothing: ${picked.size} of $total files")
    // the recorded bounds must agree with the footers they came from:
    // same range, same plan — a drifting stat would silently drop rows
    val (footerPick, _) = SnapTable.readRange(s, tbl, Some(2),
      "l_orderkey", lo, hi)
    def key(p: String) = p.split('/').takeRight(2).mkString("/")
    require(picked.map(key).sorted == footerPick.map(key).sorted,
      s"manifest plan diverged from footer truth: $picked vs $footerPick")
    out
  }

  val qSnapshotSkipSql: String =
    s"""WITH m AS (SELECT max(l_orderkey) AS km FROM lineitem)
       |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       |  ${Num.sumSql(Num.centsSql("l_extendedprice"))} AS price_sum_c
       |FROM lineitem
       |WHERE l_orderkey >= (SELECT km // 4 FROM m)
       |  AND l_orderkey <= (SELECT km // 2 FROM m)
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** STRING-KEYED DATA SKIPPING ([[SnapTable.read]] then `filter` — the
    * manifest stats surface for non-numeric keys, with Iceberg's
    * truncated-bounds discipline: the lower bound enters the manifest
    * as a ≤-preserving 16-byte prefix, the upper as
    * truncate-and-increment ≥ the true max, so manifest lines stay
    * bounded regardless of key length and pruning stays CONSERVATIVE
    * by construction — it can keep extra files, never drop a matching
    * one). Source-clustered documents, a lexicographic source-range
    * query planned from manifest text in unsigned byte order (the
    * parquet binary-stats order the bounds were recorded in); the
    * entry REQUIRES its own scan to admit strictly fewer files than
    * the table holds. Oracle: the plain string-range filter — both engines
    * compare ASCII identically. */
  def qSnapshotSkipStr(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "snapskipstr")
    val tbl = s"$tmp/tbl"
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    SnapTable.commit(s,
      docs.repartitionByRange(4, col("source"))
        .sortWithinPartitions(col("source")),
      tbl, "overwrite", statsCols = Seq("source"))
    val total = SnapTable.files(s, tbl, 1).size
    val out = SnapTable.read(s, tbl)
      .filter(col("source").between("src10", "src14"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
      .orderBy(col("source"))
    val picked = SnapTable.scannedFiles(out).size
    require(picked >= 1 && picked < total,
      s"string skip pruned nothing: $picked of $total files")
    out
  }

  val qSnapshotSkipStrSql: String =
    s"""SELECT source, CAST(count(*) AS BIGINT) AS n,
       |  ${Num.sumSql("n_chars")} AS chars
       |FROM documents
       |WHERE source >= 'src10' AND source <= 'src14'
       |GROUP BY source ORDER BY source""".stripMargin

  /** INCREMENTAL READ — the snapshot table AS a change source (the
    * Delta CDF / Iceberg incremental-scan shape for APPEND
    * histories, [[SnapTable.readIncremental]]): a consumer that has
    * integrated version F reads ONLY the files version T added — a
    * manifest set-difference, zero joins, the history never re-read
    * (the per-file counterpart of the CDC diff protocol). The entry
    * REQUIRES the fresh-file set to equal the manifest difference
    * exactly, and the APPEND-ONLY refusal to fire after an overwrite
    * lands (row provenance is gone; an "incremental" read past a
    * rewrite would silently double-count — the CDC gap rule at file
    * grain). Oracle: the later arrivals reconstructed relationally.
    * At 100 TB this is how every downstream consumer tails a table:
    * O(delta) per poll, never O(table). */
  def qSnapshotIncremental(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "snapinc")
    val tbl = s"$tmp/tbl"
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_returnflag"),
        Num.cents(col("l_quantity")).as("qty_c"),
        pmod(col("l_orderkey"), lit(3L)).as("third"))
    SnapTable.commit(s, li.filter(col("third") === 0).drop("third"),
      tbl, "overwrite")
    SnapTable.commit(s, li.filter(col("third") === 1).drop("third"),
      tbl, "append")
    SnapTable.commit(s, li.filter(col("third") === 2).drop("third"),
      tbl, "append")
    val (fresh, inc) = SnapTable.readIncremental(s, tbl, 1, 3)
    val expect = (SnapTable.files(s, tbl, 3).toSet --
      SnapTable.files(s, tbl, 1).toSet)
    require(fresh.toSet == expect && fresh.nonEmpty,
      s"incremental file set must be the manifest difference: $fresh")
    // an overwrite breaks append-only provenance: REFUSE, never
    // double-count (v1 remains a valid base for v1..v3 reads)
    SnapTable.commit(s, li.limit(10).drop("third"), tbl, "overwrite")
    val refused =
      try { SnapTable.readIncremental(s, tbl, 1, 4); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("not append-only") }
    require(refused, "incremental read past an overwrite must refuse")
    inc.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("qty_c")).as("qty_sum_c"))
      .orderBy(col("l_returnflag"))
  }

  val qSnapshotIncrementalSql: String =
    s"""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       |  ${Num.sumSql(Num.centsSql("l_quantity"))} AS qty_sum_c
       |FROM lineitem WHERE l_orderkey % 3 <> 0
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Z-ORDER + MULTI-COLUMN MANIFEST STATS — the composition that
    * makes 2-D selective reads metadata-cheap ([[graft.functions
    * .ZOrderExprs.interleaveBits]] clustering committed through
    * [[SnapTable.commit]] with TWO stats columns, queried through
    * [[SnapTable.read]] with a 2-D `filter`): z-ordering keeps BOTH
    * dimensions' per-file bounds tight (each z-range file is a 16×16
    * tile in bucket space), so a 2-D range query proves most files
    * out on one axis or the other from manifest text alone. The entry
    * REQUIRES its own scan's conjunctive plan strictly TIGHTER than
    * either single-axis plan (the measurable point of z-order —
    * linear clustering makes one axis tight and leaves the other
    * spanning everything). Oracle: the plain 2-D range
    * filter. One footer pass at commit bounds both columns
    * ([[graft.ops.LayoutAudit.auditFilesMulti]] — one read, n
    * columns). */
  def qSnapshotZorder(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "snapz")
    val tbl = s"$tmp/tbl"
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"),
        Num.cents(col("l_quantity")).as("qty_c"))
    val r = li.agg(max("l_orderkey"), max("l_partkey")).head()
    val (ow, pw) = (r.getLong(0) / (1L << ZBits) + 1,
      r.getLong(1) / (1L << ZBits) + 1)
    val zdf = li.withColumn("zk", graft.functions.ZOrderExprs
        .interleaveBits(expr(s"l_orderkey DIV $ow"),
          expr(s"l_partkey DIV $pw")))
      .withColumn("f", expr(s"zk DIV $ZFileWidth"))
      .repartition(col("f")).sortWithinPartitions(col("zk"))
      .drop("zk")
    SnapTable.commit(s, zdf, tbl, "overwrite",
      statsCols = Seq("l_orderkey", "l_partkey"),
      partitionBy = Some("f"))
    val (olo, ohi) = (r.getLong(0) / 4, r.getLong(0) / 2)
    val (plo, phi) = (r.getLong(1) / 4, r.getLong(1) / 2)
    val inO = col("l_orderkey").between(olo, ohi)
    val inP = col("l_partkey").between(plo, phi)
    def admitted(df: DataFrame) = SnapTable.scannedFiles(df).size
    val po = admitted(SnapTable.read(s, tbl).filter(inO))
    val pp = admitted(SnapTable.read(s, tbl).filter(inP))
    val out = SnapTable.read(s, tbl).filter(inO && inP)
      .groupBy(expr("l_orderkey % 4").as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("qty_c")).as("qty_sum_c"))
      .orderBy(col("bucket"))
    val both = admitted(out)
    require(both >= 1 && both < po && both < pp,
      s"z-order 2-D pruning must beat either axis alone: " +
        s"$both vs ($po, $pp)")
    out
  }

  val qSnapshotZorderSql: String =
    s"""WITH m AS (SELECT max(l_orderkey) AS om, max(l_partkey) AS pm
       |  FROM lineitem)
       |SELECT l_orderkey % 4 AS bucket, CAST(count(*) AS BIGINT) AS n,
       |  ${Num.sumSql(Num.centsSql("l_quantity"))} AS qty_sum_c
       |FROM lineitem
       |WHERE l_orderkey >= (SELECT om // 4 FROM m)
       |  AND l_orderkey <= (SELECT om // 2 FROM m)
       |  AND l_partkey >= (SELECT pm // 4 FROM m)
       |  AND l_partkey <= (SELECT pm // 2 FROM m)
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** SIZE-TARGETED OPTIMIZE ([[SnapTable.optimizeSized]] — the Delta
    * OPTIMIZE bin-packing shape, planned ENTIRELY from the manifest's
    * recorded `#bytes`, which every commit records for free from its
    * staging listing): the small-file problem is THE operational
    * disease of a streaming-fed table at 100 TB (a thousand
    * micro-batches a day × a few MB each = a million tiny files whose
    * open/seek overhead dwarfs the data), and the fix must be a
    * TRANSACTION — files below target restage into ⌈Σ/target⌉ bins
    * through the rewrite conflict loop, big files carry by reference,
    * stats re-record for the packed output so skip planning survives
    * compaction. The entry REQUIRES the pack to hit the computed bin
    * count exactly, a second pass to be a NO-OP at the same head, and
    * [[SnapTable.history]] to report the (files, bytes) trajectory.
    * Oracle: the plain aggregate — compaction moves bytes, never
    * values. */
  def qOptimizeSized(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "optsized")
    val tbl = s"$tmp/tbl"
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), Num.cents(col("l_quantity")).as("qty_c"))
    SnapTable.commit(s, li.repartition(12), tbl, "overwrite",
      statsCols = Seq("l_orderkey"))
    val before = SnapTable.fileEntries(s, tbl, 1)
    require(before.size == 12 && before.forall(_.sizeBytes.isDefined),
      s"commit must record #bytes on all 12 files: $before")
    val total = before.flatMap(_.sizeBytes).sum
    val target = total / 3 + 1 // pack 12 smalls into exactly 3 bins
    val v2 = SnapTable.optimizeSized(s, tbl, target,
      statsCols = Seq("l_orderkey"))
    require(v2 == 2, s"pack should commit version 2, got $v2")
    val after = SnapTable.fileEntries(s, tbl, 2)
    require(after.size == 3 && after.forall(_.stats.contains("l_orderkey")),
      s"12 smalls at target Σ/3 must pack to 3 stat-bearing bins: $after")
    // idempotence: under a threshold the packed bins safely clear
    // (an eighth of the pack target — recompression can move sizes a
    // little, never 8x), a second pass finds nothing small and no-ops
    require(SnapTable.optimizeSized(s, tbl, math.max(1L, target / 8)) == 2,
      "a second pass with nothing to pack must be a no-op")
    val h = SnapTable.history(s, tbl).orderBy("version").collect()
    require(h.map(r => (r.getLong(0), r.getLong(2))).toSeq ==
        Seq((1L, 12L), (2L, 3L)) && h.forall(!_.isNullAt(3)),
      s"history must report the (files, bytes) trajectory: ${h.toSeq}")
    SnapTable.read(s, tbl)
      .groupBy(pmod(col("l_orderkey"), lit(8L)).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("qty_c")).as("qty_sum_c"))
      .orderBy(col("bucket"))
  }

  val qOptimizeSizedSql: String =
    s"""SELECT l_orderkey % 8 AS bucket,
       |  CAST(count(*) AS BIGINT) AS n,
       |  ${Num.sumSql(Num.centsSql("l_quantity"))} AS qty_sum_c
       |FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin

  /** TYPE-WIDENING SCHEMA EVOLUTION — the OTHER evolution axis
    * (q_snapshot_schema_evo covers column ACCRETION; this covers
    * column WIDENING, the Delta type-widening surface): the upstream
    * widens a counter int→long and a score float→double mid-history,
    * so one snapshot version holds files of MIXED column widths. A
    * mergeSchema read REFUSES that mix (CANNOT_MERGE_SCHEMAS — the
    * entry REQUIRES the refusal: silent narrowing would be worse),
    * and the WIDENED-SCHEMA read ([[SnapTable.read]] `schema`,
    * reconciled by [[graft.ops.Upsert.widen]]'s value-preserving
    * lattice) serves the whole version with narrow files up-cast
    * IN-SCAN. MERGE then composes through
    * [[graft.ops.Upsert.applyChangesWidened]]: wide-typed
    * replacements + tombstones fold into the mixed-width base, both
    * sides cast to the widened common schema BEFORE the join, so no
    * value is ever narrowed. Time travel REQUIRED to still serve v1's
    * original narrow types. Oracle: the merged state reconstructed
    * relationally in wide types from raw events. */
  def qSnapshotWiden(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val tmp = StreamQueries.scratch(s, "snapwiden")
    val tbl = s"$tmp/tbl"
    val dayUs = 86400L * 1000000L
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr(s"ts_us DIV $dayUs").as("d"))
    // ONE events scan: (user, day) counts feed the split point, all
    // three era totals and both era user sets (sum of per-day counts
    // ≡ count over raw events); the user sets cache too — each is
    // consumed by several joins and counts below
    val g = ev.groupBy(col("user_id"), col("d"))
      .agg(count(lit(1)).as("nd")).scopedCache()
    val mm = g.agg(min("d"), max("d")).head()
    val dmid = (mm.getLong(0) + mm.getLong(1)) / 2
    def totals(e: DataFrame): DataFrame =
      e.groupBy("user_id").agg(sum(col("nd")).as("n"))
        .withColumn("score", expr("3 * n + user_id % 7"))
    // v1, the NARROW era: int counter, float score
    SnapTable.commit(s,
      totals(g.filter(col("d") < dmid))
        .select(col("user_id"), col("n").cast("int").as("n"),
          col("score").cast("float").as("score")),
      tbl, "overwrite")
    // v2 APPEND, the WIDE era: users born in the second half arrive
    // with long/double columns -> ONE version, MIXED file widths
    val firstUsers = g.filter(col("d") < dmid).select("user_id")
      .distinct().scopedCache()
    val secondUsers = g.filter(col("d") >= dmid).select("user_id")
      .distinct().scopedCache()
    SnapTable.commit(s,
      totals(g.filter(col("d") >= dmid))
        .join(firstUsers, Seq("user_id"), "left_anti")
        .select(col("user_id"), col("n").cast("long").as("n"),
          col("score").cast("double").as("score")),
      tbl, "append")
    require(SnapTable.read(s, tbl, Some(1)).schema("n").dataType ==
        IntegerType &&
      SnapTable.read(s, tbl, Some(1)).schema("score").dataType ==
        FloatType,
      "time travel must serve v1's original narrow types")
    // the mix REFUSES a mergeSchema read — widening is not optional
    val refused =
      try { SnapTable.read(s, tbl, Some(2), mergeSchema = true); false }
      catch { case e: Throwable =>
        e.getMessage.contains("CANNOT_MERGE_SCHEMAS") }
    require(refused, "mixed-width mergeSchema read must refuse, " +
      "not silently narrow")
    val wide = StructType(Seq(StructField("user_id", LongType),
      StructField("n", LongType), StructField("score", DoubleType)))
    val base = SnapTable.read(s, tbl, Some(2), schema = Some(wide))
    require(base.count() ==
        firstUsers.count() + secondUsers
          .join(firstUsers, Seq("user_id"), "left_anti").count(),
      "the widened read must serve BOTH eras' files")
    // v3 MERGE: returning users replaced with FULL totals (wide),
    // every user_id % 10 == 3 subject tombstoned
    val returning = secondUsers.join(firstUsers, Seq("user_id"),
      "left_semi")
    val repl = totals(g).join(returning, Seq("user_id"), "left_semi")
      .filter(expr("user_id % 10 <> 3")) // tombstoned below, not both
      .select(col("user_id"), col("n").cast("long").as("n"),
        col("score").cast("double").as("score"),
        lit(false).as("del"))
    val tomb = firstUsers.union(secondUsers).distinct()
      .filter(expr("user_id % 10 = 3"))
      .select(col("user_id"), lit(null).cast("long").as("n"),
        lit(null).cast("double").as("score"), lit(true).as("del"))
    val merged = graft.ops.Upsert.applyChangesWidened(
      base, repl.union(tomb), key = "user_id", deleteCol = "del")
    SnapTable.commit(s, merged, tbl, "overwrite")
    SnapTable.read(s, tbl, Some(3))
      .groupBy(expr("user_id % 10").as("bucket"))
      .agg(count(lit(1)).as("n_users"), sum(col("n")).as("sum_n"),
        sum(col("score")).cast("long").as("sum_score"))
      .orderBy(col("bucket"))
  }

  val qSnapshotWidenSql: String =
    s"""WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       |    3 * CAST(count(*) AS BIGINT) + user_id % 7 AS score
       |  FROM events GROUP BY user_id)
       |SELECT user_id % 10 AS bucket, CAST(count(*) AS BIGINT) AS n_users,
       |  ${Num.sumSql("n")} AS sum_n, ${Num.sumSql("score")} AS sum_score
       |FROM u WHERE user_id % 10 <> 3
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** PARTITIONED SNAPSHOT COMMITS — composing the table kernel with
    * the engine's partition-pruning discipline ([[SnapTable.commit]]
    * `partitionBy` + [[SnapTable.read]] then `filter`): commits stage
    * Hive-layout (`data/b<v>-<nonce>/<col>=<val>/…`), the manifest
    * line's PATH is the partition index (plus per-file stats — both
    * prunings are manifest-text decisions), and vacuum / OPTIMIZE
    * compose per partition. The entry runs the warehouse's daily
    * composition: a partitioned overwrite, then TWO REAL RACING
    * transactions on DISTINCT partitions — an append (all partitions)
    * against an OPTIMIZE of one partition — which must BOTH land
    * (versions linearize; the rewrite re-derives on staleness and
    * carries the append's files, so distinct-partition work never
    * conflicts into lost rows), then a partition-pruned two-partition
    * read whose own scan is REQUIRED to admit fewer files than the
    * table holds, and only the wanted partitions, with compaction
    * engaged on the optimized partition. Oracle: the plain filter
    * over raw events — partition plumbing is pass-through or it is
    * wrong. */
  def qSnapshotPartitioned(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "snappart")
    val tbl = s"$tmp/tbl"
    val dayUs = 86400L * 1000000L
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        expr(s"ts_us DIV $dayUs").as("d"),
        Num.cents(col("value")).as("value_c"))
    val mm = ev.agg(min("d"), max("d")).head()
    val dmid = (mm.getLong(0) + mm.getLong(1)) / 2
    // repartition(2): two writer tasks -> >= 2 files per partition
    // value, so the OPTIMIZE below always has real compaction to do
    SnapTable.commit(s, ev.filter(col("d") < dmid).drop("d")
        .repartition(2),
      tbl, "overwrite", statsCols = Seq("event_id"),
      partitionBy = Some("event_type"))
    val e1 = SnapTable.fileEntries(s, tbl, 1)
    val errV1 = e1.count(_.partitionValues.get("event_type")
      .contains("error"))
    require(errV1 >= 1, "no error-partition files to optimize")
    // TWO REAL RACING TRANSACTIONS on distinct partitions
    val appendDf = ev.filter(col("d") >= dmid).drop("d").repartition(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val gate = new java.util.concurrent.CountDownLatch(2)
    val optimizer = pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = {
        gate.countDown(); gate.await()
        SnapTable.rewriteWithRetry(s, tbl, h => {
          val keep = SnapTable.fileEntries(s, tbl, h).filterNot(
            _.partitionValues.get("event_type").contains("error"))
          val compacted = SnapTable.read(s, tbl, Some(h))
            .filter(col("event_type") === "error").coalesce(1)
          (compacted, keep.map(SnapTable.entryLine))
        }, statsCols = Seq("event_id"), partitionBy = Some("event_type"))
      }
    })
    val appender = pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = {
        gate.countDown(); gate.await()
        SnapTable.commitRetry(s, appendDf, tbl, "append",
          statsCols = Seq("event_id"), partitionBy = Some("event_type"))
      }
    })
    val (vo, va) = (optimizer.get(), appender.get())
    pool.shutdown()
    require(Set(vo, va) == Set(2, 3),
      s"racing distinct-partition transactions did not linearize: ($vo, $va)")
    val head = SnapTable.fileEntries(s, tbl, 3)
    val errAppend = SnapTable.fileEntries(s, tbl, va)
      .count(e => e.path.contains(s"data/b$va-") &&
        e.partitionValues.get("event_type").contains("error"))
    val errHead = head.count(_.partitionValues.get("event_type")
      .contains("error"))
    require(errHead < errV1 + errAppend || errHead == 1,
      s"OPTIMIZE left no visible compaction: $errHead files at head")
    // zero lost rows across the race
    require(SnapTable.read(s, tbl).count() == ev.count(),
      "the race lost rows — distinct-partition work must not conflict")
    // partition-pruned read: two of five partitions
    val wanted = Seq("click", "view")
    val out = SnapTable.read(s, tbl)
      .filter(col("event_type").isin(wanted: _*))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .orderBy(col("event_type"))
    val picked = SnapTable.scannedFiles(out)
    require(picked.nonEmpty && picked.size < head.size,
      s"partition pruning engaged nothing: ${picked.size} of ${head.size}")
    require(picked.forall(p => wanted.exists(w =>
        p.contains(s"event_type=$w"))),
      s"plan admitted a foreign partition: $picked")
    out
  }

  val qSnapshotPartitionedSql: String =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |  ${Num.sumSql(Num.centsSql("value"))} AS sum_c
       |FROM events WHERE event_type IN ('click', 'view')
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** DELETION VECTORS — merge-on-read position deletes on the
    * snapshot table ([[SnapTable.commitDelete]]): the delete commits
    * a TINY `(file_name, pos)` sidecar referenced by `#dv:` manifest
    * lines — O(subject rows) bytes, zero data files rewritten (the
    * copy-on-write erasure in `q_snapshot_erase`/`q_targeted_delete`
    * rewrites whole files; at 100 TB a compliance delete must not) —
    * and every read path anti-joins the vectors out (broadcast hash
    * probe in the scan stage, no shuffle). The entry runs the full
    * lifecycle and REQUIRES each leg: (1) the delete commit carries
    * the head's data lines VERBATIM with a sidecar under half the
    * table's bytes; (2) merge-on-read equals the direct recompute;
    * (3) OPTIMIZE ([[SnapTable.materializeDeletes]]) rewrites only
    * affected files and clears the vectors; (4) vacuum then leaves
    * EXACTLY the materialized snapshot's parquet on disk — physical
    * erasure complete. Oracle: the plain anti-filter over raw
    * events. */
  def qDeleteVectors(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "snapdv")
    val tbl = s"$tmp/tbl"
    val ev = Tables.events(s, dir).select(col("event_id"),
      col("event_type"), Num.cents(col("value")).as("value_c"))
    SnapTable.commit(s, ev.repartitionByRange(6, col("event_id")),
      tbl, "overwrite", statsCols = Seq("event_id"))
    val dataBytes = SnapTable.fileEntries(s, tbl, 1)
      .flatMap(_.sizeBytes).sum
    val v2 = SnapTable.commitDelete(s, tbl, "event_type = 'error'")
    require(SnapTable.files(s, tbl, v2) == SnapTable.files(s, tbl, 1),
      "a vector delete must rewrite zero data files")
    val hfs = new org.apache.hadoop.fs.Path(tbl).getFileSystem(
      s.sparkContext.hadoopConfiguration)
    val dvBytes = SnapTable.dvFiles(s, tbl, v2).map(p =>
      hfs.getFileStatus(new org.apache.hadoop.fs.Path(tbl, p)).getLen).sum
    require(dvBytes > 0 && dvBytes * 2 < dataBytes,
      s"vector must be O(subject): $dvBytes vs table $dataBytes")
    val expectN = ev.filter(col("event_type") =!= "error").count()
    require(SnapTable.read(s, tbl).count() == expectN,
      "merge-on-read must equal the direct recompute")
    val vM = SnapTable.materializeDeletes(s, tbl,
      statsCols = Seq("event_id"))
    require(SnapTable.dvFiles(s, tbl, vM).isEmpty,
      "OPTIMIZE must clear the vectors")
    SnapTable.vacuum(s, tbl, keep = 1)
    val live = SnapTable.files(s, tbl, vM).toSet
    val onDisk = {
      val it = hfs.listFiles(new org.apache.hadoop.fs.Path(tbl), true)
      val b = Set.newBuilder[String]
      val root = hfs.makeQualified(
        new org.apache.hadoop.fs.Path(tbl)).toString
      while (it.hasNext) {
        val p = it.next().getPath.toString
        if (p.endsWith(".parquet")) b += p.stripPrefix(root + "/")
      }
      b.result()
    }
    require(onDisk == live,
      s"physical erasure incomplete: ${(onDisk -- live).size} stray, " +
        s"${(live -- onDisk).size} missing")
    SnapTable.read(s, tbl).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .orderBy(col("event_type"))
  }

  val qDeleteVectorsSql: String =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |  ${Num.sumSql(Num.centsSql("value"))} AS sum_c
       |FROM events WHERE event_type <> 'error'
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** SQL SURFACE OF THE SNAPSHOT TABLE — the DataSourceV2 connector
    * ([[graft.sources.snap.SnapSource]]) serving plain `spark.sql`
    * over a committed snapshot: `format("snap")` registered as a temp
    * view on the entry's own session fork (nothing reaches the
    * caller's catalog), then a query whose WHERE clause reaches the
    * MANIFEST planner — partition pruning on the Hive path segments
    * AND per-file min/max pruning on recorded stats, both pure driver
    * text (zero query-time footer or listing IO) — before Spark's own
    * vectorized parquet V2 scan reads the survivors. The reference's
    * query stage is exactly SQL over a loaded table
    * (java_template/src/main/resources/db.properties-empty:4-8);
    * this entry serves it at snapshot-table grain. The entry
    * REQUIRES, of the LIVE V2 scan's admitted files
    * ([[SnapTable.scannedFiles]]): (1) fewer than the two wanted
    * partitions hold (stats engaged beyond partition identity — ids
    * are range-clustered, so per-file bounds are tight), and (2) at
    * least one. Oracle: the plain filter over raw events — the whole
    * connector stack must be semantically invisible. */
  def qSqlSnapshot(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "snapsqlq")
    val tbl = s"$tmp/tbl"
    val ev = Tables.events(s, dir).select(col("event_id"),
      col("event_type"), Num.cents(col("value")).as("value_c"))
    // range-cluster ids; partitionBy then splits per type — per-file
    // event_id bounds stay TIGHT inside every partition
    SnapTable.commit(s, ev.repartitionByRange(4, col("event_id")),
      tbl, "overwrite", statsCols = Seq("event_id"),
      partitionBy = Some("event_type"))
    val idMax = ev.agg(max("event_id")).head().getLong(0)
    val f = Bridge.cloneSession(s)
    f.read.format("snap").load(tbl).createOrReplaceTempView("snap_events_sql")
    val out = f.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(value_c) AS BIGINT) AS sum_c
         |FROM snap_events_sql
         |WHERE event_type IN ('click', 'view')
         |  AND event_id <= ${idMax / 4}
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
    require(out.count() > 0, "SQL over the snapshot returned nothing")
    // the LIVE V2 scan's admitted files: the manifest pruning's output
    val admitted = SnapTable.scannedFiles(out).size
    val entries = SnapTable.fileEntries(s, tbl, 1)
    val partOnly = entries.count(_.partitionValues.get("event_type")
      .exists(Set("click", "view").contains))
    require(admitted >= 1 && admitted < partOnly && partOnly < entries.size,
      s"V2 pruning must beat partition identity alone: " +
        s"admitted=$admitted partitions=$partOnly total=${entries.size}")
    out
  }

  val qSqlSnapshotSql: String =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |  ${Num.sumSql(Num.centsSql("value"))} AS sum_c
       |FROM events WHERE event_type IN ('click', 'view')
       |  AND event_id <= (SELECT max(event_id) // 4 FROM events)
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** SCHEMA EVOLUTION on the snapshot table: the table accretes a
    * column mid-history — v1's files predate `value_c`, the v2 APPEND
    * introduces it — and a by-name mergeSchema read serves the whole
    * version as ONE frame with the old files' absent column
    * null-filled (`SnapTable.read(mergeSchema)`), while TIME TRAVEL
    * to v1 still reads the original narrow schema. The aggregate
    * distinguishes null-filled from zero (count(value_c) vs count(*)),
    * so a reader that zero-fills — or that silently takes one file's
    * schema for all — hash-mismatches. The accreting-table reality at
    * 100 TB: columns arrive with new batches; history is immutable. */
  def qSnapshotSchemaEvo(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "snapevo")
    val tbl = s"$tmp/tbl"
    val dayUs = 86400L * 1000000L
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        expr(s"ts_us DIV $dayUs").as("d"),
        Num.cents(col("value")).as("value_c"))
    val mm = ev.agg(min("d"), max("d")).head()
    val dmid = (mm.getLong(0) + mm.getLong(1)) / 2
    // v1: the narrow era — value_c did not exist yet
    SnapTable.commit(s,
      ev.filter(col("d") < dmid).select(col("event_id"), col("event_type")),
      tbl, "overwrite")
    // v2: the column arrives with the new batch
    SnapTable.commit(s,
      ev.filter(col("d") >= dmid)
        .select(col("event_id"), col("event_type"), col("value_c")),
      tbl, "append")
    require(SnapTable.read(s, tbl, Some(1)).columns.length == 2,
      "time travel must serve v1's original narrow schema")
    val merged = SnapTable.read(s, tbl, mergeSchema = true)
    require(merged.columns.contains("value_c"),
      "mergeSchema read lost the evolved column")
    merged.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("value_c")).as("n_valued"),
        sum(coalesce(col("value_c"), lit(0L))).as("sum_c"))
      .orderBy(col("event_type"))
  }

  val qSnapshotSchemaEvoSql: String =
    s"""WITH ev AS (SELECT event_type,
       |    epoch_us(ts) // ${86400L * 1000000L} AS d,
       |    ${Num.centsSql("value")} AS value_c
       |  FROM events),
       |m AS (SELECT (min(d) + max(d)) // 2 AS dmid FROM ev)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(CASE WHEN d >= (SELECT dmid FROM m)
       |                  THEN 1 END) AS BIGINT) AS n_valued,
       |  ${Num.sumSql(
             s"CASE WHEN d >= (SELECT dmid FROM m) THEN value_c ELSE 0 END")}
       |    AS sum_c
       |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin

  /** OPTIMIZE RACING AN APPEND under the oracle
    * ([[SnapTable.rewriteWithRetry]] — the Delta/Iceberg
    * conflict-resolution loop): a compactor's rewrite plan is derived
    * FROM a head version, so a concurrent append landing before its
    * commit makes the plan STALE — blindly publishing it would DROP
    * the appended rows (the lost-update anomaly, the one conflict
    * class optimistic concurrency alone does not catch because the
    * loser here would win a FRESH version). `commitRewrite` refuses
    * when the head moved past the plan's `expectedHead`; the retry
    * loop re-derives from the new head and replays the compaction on
    * top of the append. Two REAL threads race exactly that: the
    * optimizer full-compacts whatever head it sees while the appender
    * lands the other half of the corpus — the entry REQUIRES versions
    * {2, 3} (both transactions landed, linearized) and hash-gates the
    * final snapshot against the full recompute: rewrites yield to
    * appends, and NOTHING is lost under either interleaving. */
  def qOptimizeRace(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "optrace")
    val tbl = s"$tmp/tbl"
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), Num.cents(col("l_quantity")).as("qty_c"))
    SnapTable.commit(s,
      li.filter(pmod(col("l_orderkey"), lit(2L)) === 0L).repartition(8),
      tbl, "overwrite")
    val appendDf = li.filter(pmod(col("l_orderkey"), lit(2L)) === 1L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val gate = new java.util.concurrent.CountDownLatch(2)
    val optimizer = pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = {
        gate.countDown(); gate.await()
        SnapTable.rewriteWithRetry(s, tbl, h => {
          val fs = SnapTable.files(s, tbl, h)
          (s.read.parquet(fs.map(rel => s"$tbl/$rel"): _*)
            .repartitionByRange(2, col("l_orderkey"))
            .sortWithinPartitions(col("l_orderkey")),
            Seq.empty)
        })
      }
    })
    val appender = pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = {
        gate.countDown(); gate.await()
        SnapTable.commitRetry(s, appendDf, tbl, "append")
      }
    })
    val (vo, va) = (optimizer.get(), appender.get())
    pool.shutdown()
    require(Set(vo, va) == Set(2, 3),
      s"racing transactions did not linearize: got ($vo, $va)")
    SnapTable.read(s, tbl)
      .groupBy(pmod(col("l_orderkey"), lit(10L)).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("qty_c")).as("qty_sum_c"))
      .orderBy(col("bucket"))
  }

  val qOptimizeRaceSql: String =
    s"""SELECT l_orderkey % 10 AS bucket,
       |  CAST(count(*) AS BIGINT) AS n,
       |  ${Num.sumSql(Num.centsSql("l_quantity"))} AS qty_sum_c
       |FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin

  /** TARGETED DELETE AS A SNAPSHOT TRANSACTION — the production RTBF
    * loop ([[SnapTable.commitRewrite]] + [[SnapTable.vacuum]]): the
    * subject's erasure must be (1) PLANNED from the MANIFEST alone
    * (the commit recorded per-file min/max, so the rewrite set — the
    * few files whose bounds cover a subject — is a driver decision
    * over O(files) text, zero footer probes; a file with NO bounds
    * must be rewritten, absence never excuses an erasure; cost
    * scales with data locality, not table size), (2) COMMITTED
    * atomically as version v+1 carrying every
    * untouched file by reference (the manifest itself proves the rest
    * of the corpus byte-identical), and (3) PHYSICALLY completed by
    * vacuum — until the horizon passes, TIME TRAVEL still serves the
    * subject from v1, which is the retention-vs-erasure conflict
    * every warehouse must schedule around, surfaced here AS DATA (the
    * `v1_subject_pre_vacuum` row). The entry REQUIRES the rewrite set
    * bounded by the subject count, the carried files present verbatim
    * in v+1, the subject absent from EVERY retained version after
    * vacuum, and the affected files' bytes actually gone from disk. */
  def qSnapshotErase(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "snaperase")
    val tbl = s"$tmp/tbl"
    val ev = Tables.events(s, dir)
      .select(col("user_id"), Num.cents(col("value")).as("value_c"))
    val umax = ev.agg(max("user_id")).head().getLong(0)
    val dels = Seq(umax / 7, umax / 2, umax - 1).distinct
    SnapTable.commit(s,
      ev.repartitionByRange(8, col("user_id"))
        .sortWithinPartitions(col("user_id")),
      tbl, "overwrite", statsCols = Seq("user_id"))
    // PLAN FROM THE MANIFEST: candidates = files whose RECORDED range
    // covers a subject (the clustered layout makes that <= one file
    // each) — a driver decision over manifest lines, no footer pass;
    // a file without recorded bounds MUST be in the rewrite set
    // (`forall`: for erasure, absence admits into the rewrite)
    val entries = SnapTable.fileEntries(s, tbl, 1)
    val hit = entries.filter(e =>
        e.stats.get("user_id").forall { case (mn, mx) =>
          dels.exists(u => mn <= u && mx >= u) })
      .map(_.path).sorted
    require(hit.nonEmpty && hit.size <= dels.size,
      s"erasure plan should touch at most ${dels.size} files: $hit")
    val hitSet = hit.toSet
    // carried as full manifest LINES: the untouched files keep their
    // recorded bounds through the rewrite
    val carried = entries.filterNot(e => hitSet.contains(e.path))
      .map(SnapTable.entryLine)
    require(carried.nonEmpty, "erasure should not rewrite the corpus")
    val rewritten = s.read.parquet(hit.map(h => s"$tbl/$h"): _*)
      .filter(!col("user_id").isin(dels: _*))
      .repartitionByRange(math.max(1, hit.size), col("user_id"))
      .sortWithinPartitions(col("user_id"))
    SnapTable.commitRewrite(s, rewritten, tbl, carried,
      statsCols = Seq("user_id"))
    val f2 = SnapTable.files(s, tbl, 2).toSet
    val carriedPaths = entries.map(_.path).filterNot(hitSet)
    require(carriedPaths.forall(f2.contains),
      "rewrite dropped an untouched file from the new version")
    // the conflict as data: history still serves the subject until
    // the horizon passes — read it through v1's TIME TRAVEL now (one
    // bounded row to the driver), because vacuum deletes those bytes
    val subj = SnapTable.read(s, tbl, Some(1))
      .filter(col("user_id").isin(dels: _*))
      .agg(count(lit(1)), coalesce(sum(col("value_c")), lit(0L))).head()
    require(subj.getLong(0) > 0,
      "erasure subjects matched no rows — nothing under test")
    import s.implicits._
    val preVac = Seq(("v1_subject_pre_vacuum", subj.getLong(0),
      subj.getLong(1))).toDF("phase", "n_rows", "sum_c")
    SnapTable.vacuum(s, tbl, keep = 1)
    require(SnapTable.versions(s, tbl) == Seq(2),
      "vacuum did not retire the pre-erasure version")
    val fsys = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    hit.foreach { h =>
      require(!fsys.exists(new org.apache.hadoop.fs.Path(tbl, h)),
        s"subject bytes survived the vacuum: $h")
    }
    // subject absent from EVERY retained version
    SnapTable.versions(s, tbl).foreach { v =>
      require(SnapTable.read(s, tbl, Some(v))
        .filter(col("user_id").isin(dels: _*)).isEmpty,
        s"subject still readable in retained version $v")
    }
    val v2 = SnapTable.read(s, tbl)
    preVac
      .union(v2.filter(col("user_id").isin(dels: _*))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("value_c")), lit(0L)).as("sum_c"))
        .select(lit("v2_subject").as("phase"), col("n_rows"), col("sum_c")))
      .union(v2
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("value_c")), lit(0L)).as("sum_c"))
        .select(lit("v2_total").as("phase"), col("n_rows"), col("sum_c")))
      .orderBy(col("phase"))
  }

  val qSnapshotEraseSql: String =
    s"""WITH ev AS (SELECT user_id, ${Num.centsSql("value")} AS value_c
       |  FROM events),
       |m AS (SELECT max(user_id) AS um FROM ev),
       |del AS (SELECT um // 7 AS u FROM m
       |        UNION SELECT um // 2 FROM m
       |        UNION SELECT um - 1 FROM m)
       |SELECT 'v1_subject_pre_vacuum' AS phase,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  COALESCE(${Num.sumSql("value_c")}, 0) AS sum_c
       |FROM ev WHERE user_id IN (SELECT u FROM del)
       |UNION ALL
       |SELECT 'v2_subject', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |UNION ALL
       |SELECT 'v2_total', CAST(count(*) AS BIGINT),
       |  COALESCE(${Num.sumSql("value_c")}, 0)
       |FROM ev WHERE user_id NOT IN (SELECT u FROM del)
       |ORDER BY phase""".stripMargin

  /** ORC ROUND-TRIP with predicate pushdown: the second columnar
    * format a Spark warehouse speaks (built-in `orc` datasource —
    * ORC-resident corpora are a reality the engine must read, not
    * convert). Events land as ORC, read back through the distributed
    * scan, and the entry REQUIRES the dimension filter pushed into
    * the ORC scan itself (`PushedFilters` on the scan node — ORC
    * carries row-group statistics like parquet, and a filter that
    * only runs post-scan would read every stripe at 100 TB). Oracle:
    * the same aggregate from the raw parquet — format round-trip
    * fidelity is exactly "the bytes that come back are the bytes
    * that went in". */
  def qOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = orcRoundtripScan(s, dir)
    require(orcFilterPushed(out.queryExecution.executedPlan),
      "event_type filter not pushed into the ORC scan")
    out
  }

  /** [[qOrcRoundtrip]]'s write and filtered read under `s`'s confs,
    * unchecked. */
  private[graft] def orcRoundtripScan(s: SparkSession,
      dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "orc")
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        Num.cents(col("value")).as("value_c"))
      .write.format("orc").save(s"$tmp/ev")
    s.read.format("orc").load(s"$tmp/ev")
      .filter(col("event_type") =!= "error")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .orderBy(col("event_type"))
  }

  /** `plan` pushes [[qOrcRoundtrip]]'s filter into its ORC reader: an
    * ORC file scan hands `IsNotNull(event_type)` and
    * `Not(EqualTo(event_type, error))` to the reader, and the scan's
    * session lets the reader use them (`spark.sql.orc.filterPushdown`;
    * the reader reads the conf of the relation's session). */
  private[graft] def orcFilterPushed(plan: SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
    import org.apache.spark.sql.sources.{EqualTo, Filter, IsNotNull, Not}
    val want = Set[Filter](IsNotNull("event_type"),
      Not(EqualTo("event_type", "error")))
    Plans.nodes(plan).exists {
      case f: FileSourceScanExec =>
        f.relation.fileFormat.isInstanceOf[OrcFileFormat] &&
          f.relation.sparkSession.conf
            .get("spark.sql.orc.filterPushdown").toBoolean &&
          want.subsetOf(Bridge.pushedFilters(f).toSet)
      case _ => false
    }
  }

  val qOrcRoundtripSql: String =
    s"""SELECT event_type, count(*) AS n,
       |  ${Num.sumSql(Num.centsSql("value"))} AS sum_c
       |FROM events WHERE event_type <> 'error'
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** OPTIMIZE under snapshot isolation (the Delta `OPTIMIZE` shape,
    * composing [[SnapTable]] with the layout levers): v1 commits the
    * fact slice in its natural fragmented arrival layout; the
    * optimizer then reads v1 BY VERSION, rewrites it range-clustered
    * and sorted on the key, and commits the rewrite as v2 — a pure
    * LAYOUT transaction. The entry REQUIRES what optimize promises:
    * fewer files, per-file key ranges pairwise DISJOINT (verified
    * from parquet footers — the row-group-pruning property itself),
    * and v1 still readable afterwards (a mid-optimize reader keeps
    * its snapshot). The oracle gates the other half of the contract:
    * both versions aggregate IDENTICALLY — optimize moved bytes, not
    * data. */
  def qSnapshotOptimize(s: SparkSession, dir: String): DataFrame = {
    val tmp = StreamQueries.scratch(s, "opt")
    val tbl = s"$tmp/tbl"
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), Num.cents(col("l_quantity")).as("qty_c"))
    SnapTable.commit(s, li.repartition(8), tbl, "overwrite")
    val optimized = SnapTable.read(s, tbl, Some(1))
      .repartitionByRange(4, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
    SnapTable.commit(s, optimized, tbl, "overwrite")
    require(SnapTable.files(s, tbl, 2).size < SnapTable.files(s, tbl, 1).size,
      "optimize did not reduce the file count")
    // footer audit of v2: clustered = per-file key ranges disjoint
    // (v2's data dir is derived from its manifest — staging dirs are
    // attempt-unique, never a guessable literal path)
    val v2Dir = SnapTable.files(s, tbl, 2)
      .map(rel => rel.split('/').dropRight(1).mkString("/"))
      .distinct match { case Seq(one) => one }
    val spans = LayoutAudit.audit(s, s"$tbl/$v2Dir/*.parquet", "l_orderkey")
      .select(col("col_min"), col("col_max")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    spans.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        require(hi < lo2, s"optimize left overlapping key ranges: $hi >= $lo2")
      case _ =>
    }
    (1 to 2).map { v =>
      SnapTable.read(s, tbl, Some(v))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty_c")).as("qty_sum_c"))
        .select(lit(v.toLong).as("version"), col("n_rows"), col("qty_sum_c"))
    }.reduce(_.union(_)).orderBy(col("version"))
  }

  val qSnapshotOptimizeSql: String =
    s"""WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |  ${Num.sumSql(Num.centsSql("l_quantity"))} AS qty_sum_c
       |  FROM lineitem)
       |SELECT CAST(1 AS BIGINT) AS version, n_rows, qty_sum_c FROM t
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), n_rows, qty_sum_c FROM t
       |ORDER BY version""".stripMargin

  /** PageRank iterations to run — interpolated into BOTH the Spark
    * entry and the generated oracle so the two cannot drift. */
  private val PageRankIters = 5

  /** Integer-ppm PageRank ([[graft.ops.PageRank]]) over the
    * co-purchase graph: parts sharing an order link both ways (a
    * symmetric edge list — no dangling mass), rank flows for
    * [[PageRankIters]] rounds. The iterative-graph class no other
    * entry exercises; every round's arithmetic is exact integers, so
    * the unrolled chained-CTE oracle replays it bit-for-bit. */
  def qPagerank(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val edges = li.select(col("ok"), col("pk").as("src"))
      .join(li.select(col("ok"), col("pk").as("dst")), Seq("ok"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    PageRank.ranks(edges, iters = PageRankIters)
      .select(col("node").as("part"), col("rank_ppm"))
      .orderBy(col("part"))
  }

  val qPagerankSql: String = {
    val rounds = (1 to PageRankIters).map { k =>
      s"""r$k AS (SELECT n.node,
         |  CAST(150000 + 850000 * COALESCE(m.mass, 0) // 1000000 AS BIGINT)
         |    AS r
         |FROM n LEFT JOIN (
         |  SELECT e.dst AS node, CAST(sum(p.r // d.odeg) AS BIGINT) AS mass
         |  FROM e JOIN r${k - 1} p ON p.node = e.src
         |  JOIN d ON d.src = e.src
         |  GROUP BY e.dst) m ON m.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
       |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
       |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |d AS (SELECT src, CAST(count(*) AS BIGINT) AS odeg FROM e GROUP BY src),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n),
       |$rounds
       |SELECT node AS part, r AS rank_ppm FROM r$PageRankIters
       |ORDER BY part""".stripMargin
  }

  /** Shared feature frame for the OLS entries: integer-unit features
    * (whole quantity, discount/tax in basis points) and the target in
    * cents — the caller-side scaling contract that keeps
    * [[graft.ops.Ols]]'s sufficient statistics and the replayed
    * predictions exact. */
  private val OlsFeatures = Seq("qty", "disc_bp", "tax_bp")
  private def olsFrame(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      col("l_orderkey"),
      col("l_linenumber").cast("long").as("l_linenumber"),
      round(col("l_quantity"), 0).cast("long").as("qty"),
      round(col("l_discount") * 100, 0).cast("long").as("disc_bp"),
      round(col("l_tax") * 100, 0).cast("long").as("tax_bp"),
      Num.cents(col("l_extendedprice")).as("y_c"),
      col("l_returnflag"))

  /** MULTIPLE-REGRESSION RUNTIME PREDICTION ([[graft.ops.Ols]]) —
    * the reference's headline analytic (SAAF: OLS runtime estimation
    * over CPU-accounting features, research.md:19) as an oracle-gated
    * engine operator: fit price ~ quantity + discount + tax over the
    * full lineitem frame in ONE map-side-combined sufficient-
    * statistics aggregate (X'X, X'y — nothing row-shaped reaches the
    * driver), solve the 4×4 normal equations at the driver, and score
    * EVERY row in-plan with the ppm weights as literals — a pure long
    * multiply-add inside whole-stage codegen, no join, no shuffle
    * beyond the scan. The oracle replays each prediction with the
    * trained weight vector inlined (the post-training contract), so
    * the fit itself is regression-gated: a drifting weight
    * hash-mismatches 60k predictions. */
  def qRuntimePredict(s: SparkSession, dir: String): (DataFrame, String) = {
    val df = olsFrame(s, dir)
    val m = Ols.fit(df, OlsFeatures, "y_c")
    (df.select(col("l_orderkey"), col("l_linenumber"), col("y_c"),
        Ols.predictPpm(m, OlsFeatures).as("pred_ppm"))
      .orderBy(col("l_orderkey"), col("l_linenumber")),
      s"""WITH $olsFrameSql
         |SELECT l_orderkey, l_linenumber, y_c,
         |  CAST(${olsPredictSql(m)} AS BIGINT) AS pred_ppm
         |FROM li ORDER BY l_orderkey, l_linenumber""".stripMargin)
  }

  /** Per-group prediction error AS DATA — the IC2E per-scenario MAPE
    * table's shape (IC2E Data.csv:3-9: prediction groups × error):
    * the fitted model's absolute percentage error aggregated by
    * return-flag scenario in exact integer ppm
    * (`|pred_ppm − y·10⁶| DIV y`, then `sum DIV n`), so the
    * model-evaluation loop itself — not just the fit — is
    * oracle-replayable end to end. */
  def qPredictMape(s: SparkSession, dir: String): (DataFrame, String) = {
    val df = olsFrame(s, dir)
    val m = Ols.fit(df, OlsFeatures, "y_c")
    (Ols.mapeReport(df, m, OlsFeatures, "y_c", "l_returnflag")
      .orderBy(col("l_returnflag")), mapeSql(m))
  }

  /** DuckDB replay of [[Ols.mapeReport]] per return flag under `m`. */
  private def mapeSql(m: Ols.Model): String =
    s"""WITH $olsFrameSql,
       |p AS (SELECT l_returnflag, y_c,
       |        CAST(${olsPredictSql(m)} AS BIGINT) AS pred_ppm
       |      FROM li),
       |a AS (SELECT l_returnflag,
       |        abs(pred_ppm - y_c * 1000000) // y_c AS ape_ppm
       |      FROM p)
       |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       |  ${Num.sumSql("ape_ppm")} AS sum_ape_ppm,
       |  ${Num.sumSql("ape_ppm")} // count(*) AS mape_ppm
       |FROM a GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  /** PREDICTOR COMPARISON AS DATA — the other half of the reference's
    * IC2E table ("CPU-TA < baseline / <> / >", win-tie-loss per
    * prediction group): the OLS model and the naive per-scenario
    * baseline (group mean — what you predict with no features) score
    * the same rows, their MAPEs land side by side per scenario, and
    * `ols_wins` is the point-estimate verdict column (the reference
    * adds t-tests; the comparison STRUCTURE is what transfers). All
    * integer ppm, fully oracle-replayable.
    *
    * Plan note (the q_dedup_admit precedent — an argued ≥3-scan
    * tail): fit pass + base-mean pass + scoring pass = three
    * column-pruned scans and ZERO corpus shuffles (the 3-row means
    * broadcast back). The 2-scan alternative — group means as a
    * window — shuffles the whole corpus onto 3 reducer keys, the
    * textbook skew trap; three cheap scans beat one skewed shuffle at
    * any scale. */
  def qPredictCompare(s: SparkSession, dir: String): (DataFrame, String) = {
    val df = olsFrame(s, dir)
    val m = Ols.fit(df, OlsFeatures, "y_c")
    val base = df.groupBy(col("l_returnflag"))
      .agg(sum(col("y_c")).as("sy"), count(lit(1)).as("n0"))
      .select(col("l_returnflag"), expr("sy DIV n0").as("base_pred_c"))
    (df.withColumn("pred_ppm", Ols.predictPpm(m, OlsFeatures))
      .join(broadcast(base), Seq("l_returnflag"))
      .withColumn("ape_ols_ppm",
        expr("abs(pred_ppm - y_c * 1000000) DIV y_c"))
      .withColumn("ape_base_ppm",
        expr("abs(base_pred_c - y_c) * 1000000 DIV y_c"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("ape_ols_ppm")).as("so"), sum(col("ape_base_ppm")).as("sb"))
      .select(col("l_returnflag"), col("n"),
        expr("so DIV n").as("mape_ols_ppm"),
        expr("sb DIV n").as("mape_base_ppm"))
      .withColumn("ols_wins",
        (col("mape_ols_ppm") < col("mape_base_ppm")).cast("long"))
      .orderBy(col("l_returnflag")), qPredictCompareSql(m))
  }

  private def qPredictCompareSql(m: Ols.Model): String =
    s"""WITH $olsFrameSql,
       |b AS (SELECT l_returnflag,
       |        CAST(sum(y_c) AS BIGINT) // count(*) AS base_pred_c
       |      FROM li GROUP BY l_returnflag),
       |p AS (SELECT li.l_returnflag, y_c, base_pred_c,
       |        CAST(${olsPredictSql(m)} AS BIGINT) AS pred_ppm
       |      FROM li JOIN b USING (l_returnflag)),
       |a AS (SELECT l_returnflag,
       |        abs(pred_ppm - y_c * 1000000) // y_c AS ao,
       |        abs(base_pred_c - y_c) * 1000000 // y_c AS ab
       |      FROM p),
       |g AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       |        ${Num.sumSql("ao")} // count(*) AS mape_ols_ppm,
       |        ${Num.sumSql("ab")} // count(*) AS mape_base_ppm
       |      FROM a GROUP BY l_returnflag)
       |SELECT l_returnflag, n, mape_ols_ppm, mape_base_ppm,
       |  CAST(mape_ols_ppm < mape_base_ppm AS BIGINT) AS ols_wins
       |FROM g ORDER BY l_returnflag""".stripMargin

  /** Shared frame for the distribution-comparison entries: per-event
    * value cents with side 0/1 = first/second timeline half (the
    * before/after populations the reference compares per scenario). */
  private def sidedEvents(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    val ev = Tables.events(s, dir)
      .select(col("event_type"), expr(s"ts_us DIV $dayUs").as("d"),
        Num.cents(col("value")).as("value_c"))
    val mm = ev.agg(min("d"), max("d")).head()
    val dmid = (mm.getLong(0) + mm.getLong(1)) / 2
    ev.withColumn("side", (col("d") >= dmid).cast("long"))
  }

  private val sidedEventsSql: String =
    s"""ev0 AS (SELECT event_type, epoch_us(ts) // ${86400L * 1000000L} AS d,
       |    ${Num.centsSql("value")} AS value_c
       |  FROM events),
       |m AS (SELECT (min(d) + max(d)) // 2 AS dmid FROM ev0),
       |ev AS (SELECT event_type, value_c,
       |    CAST(d >= (SELECT dmid FROM m) AS BIGINT) AS side
       |  FROM ev0)""".stripMargin

  /** WELCH'S T-TEST as data ([[graft.ops.Stats.welchT]] — the
    * `tStat`/`pValue` columns of the reference's IC2E table: does the
    * scenario's runtime distribution differ before vs after?): per
    * event type, the first- and second-half value populations reduce
    * to exact integer moments (n, Σy, Σy² per side — one
    * map-side-combined pass), and both t and the Welch–Satterthwaite
    * df come out of FIXED trees of IEEE ops over those exact
    * integers — both engines write the same trees, so even the
    * doubles are bit-identical and the ppm-rounded statistics
    * hash-gate. The two-sided p-value is the exact t-CDF tail,
    * evaluated at the driver (incomplete-beta continued fraction —
    * deterministic) and replayed by the oracle as per-key literals;
    * `significant` is the exact p < 0.05 verdict, which at small n
    * disagrees with the 1.96 normal bound (StatsSpec pins a case).
    * Keys with n < 2 on a side or zero variance on both are dropped
    * (guard mirrored in the oracle SQL). */
  def qWelchT(s: SparkSession, dir: String): (DataFrame, String) = {
    val (df, ps) = graft.ops.Stats.welchT(sidedEvents(s, dir),
      valueCol = "value_c", sideCol = "side", keyCol = "event_type")
    (df.orderBy(col("event_type")), qWelchTSql(ps))
  }

  /** Post-run oracle (see [[graft.QueryModule.trained]]): t_ppm and
    * df_ppm replay as the same fixed IEEE trees over exact integers;
    * p_ppm and the p < 0.05 verdict ride in as the driver-computed
    * literals. */
  private def qWelchTSql(ps: Map[String, (Long, Long)]): String = {
    val pCase = ps.toSeq.sortBy(_._1).map { case (k, (p, _)) =>
      s"WHEN '$k' THEN $p" }.mkString(" ")
    val sCase = ps.toSeq.sortBy(_._1).map { case (k, (_, sig)) =>
      s"WHEN '$k' THEN $sig" }.mkString(" ")
    s"""WITH $sidedEventsSql,
       |g AS (SELECT event_type, side, CAST(count(*) AS BIGINT) AS n,
       |        sum(CAST(value_c AS HUGEINT)) AS sy,
       |        sum(CAST(value_c AS HUGEINT) * value_c) AS syy
       |      FROM ev GROUP BY event_type, side),
       |p AS (SELECT event_type,
       |        max(CASE WHEN side = 0 THEN n END) AS n0,
       |        max(CASE WHEN side = 0 THEN sy END) AS sy0,
       |        max(CASE WHEN side = 0 THEN syy END) AS syy0,
       |        max(CASE WHEN side = 1 THEN n END) AS n1,
       |        max(CASE WHEN side = 1 THEN sy END) AS sy1,
       |        max(CASE WHEN side = 1 THEN syy END) AS syy1
       |      FROM g GROUP BY event_type),
       |u AS (SELECT event_type, n0, n1, sy0, sy1,
       |    CAST(n0 * syy0 - sy0 * sy0 AS DOUBLE) / (n0 * (n0 - 1)) / n0
       |      AS u0,
       |    CAST(n1 * syy1 - sy1 * sy1 AS DOUBLE) / (n1 * (n1 - 1)) / n1
       |      AS u1
       |  FROM p WHERE n0 >= 2 AND n1 >= 2),
       |t AS (SELECT event_type, n0, n1,
       |    (CAST(sy0 AS DOUBLE) / n0 - CAST(sy1 AS DOUBLE) / n1)
       |      / sqrt(u0 + u1) AS t_dbl,
       |    (u0 + u1) * (u0 + u1)
       |      / (u0 * u0 / (n0 - 1) + u1 * u1 / (n1 - 1)) AS df_dbl
       |  FROM u WHERE u0 + u1 > 0)
       |SELECT event_type, n0, n1,
       |  CAST(round(t_dbl * 1000000, 0) AS BIGINT) AS t_ppm,
       |  CAST(round(df_dbl * 1000000, 0) AS BIGINT) AS df_ppm,
       |  CAST(CASE event_type $pCase END AS BIGINT) AS p_ppm,
       |  CAST(CASE event_type $sCase END AS BIGINT) AS significant
       |FROM t ORDER BY event_type""".stripMargin
  }

  /** 1-D WASSERSTEIN distance as data ([[graft.ops.Stats
    * .wasserstein1]] — the `wassersteinDistance` column of the IC2E
    * table: HOW FAR did the distribution move, where the t-test only
    * says whether): the earth-mover integral over the two halves'
    * empirical CDFs, EXACT — per distinct value, cumulative counts
    * cross-scaled as |c0·n1 − c1·n0|, times the gap to the next
    * value, decimal-summed and floor-divided by n0·n1 — integer end
    * to end, replayed as the identical window SQL. Scale: the per-key
    * window sort runs over (key, distinct-value) rows after the count
    * pre-aggregate, never raw events. */
  def qWasserstein(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.wasserstein1(sidedEvents(s, dir),
        valueCol = "value_c", sideCol = "side", keyCol = "event_type")
      .orderBy(col("event_type"))

  val qWassersteinSql: String =
    s"""WITH $sidedEventsSql,
       |perv AS (SELECT event_type, value_c AS v,
       |    ${Num.sumSql("CASE WHEN side = 0 THEN 1 ELSE 0 END")} AS d0,
       |    ${Num.sumSql("CASE WHEN side = 1 THEN 1 ELSE 0 END")} AS d1
       |  FROM ev GROUP BY event_type, value_c),
       |c AS (SELECT event_type, v, d0, d1,
       |    sum(d0) OVER (PARTITION BY event_type ORDER BY v) AS c0,
       |    sum(d1) OVER (PARTITION BY event_type ORDER BY v) AS c1,
       |    lead(v) OVER (PARTITION BY event_type ORDER BY v) - v AS gap,
       |    sum(d0) OVER (PARTITION BY event_type) AS n0,
       |    sum(d1) OVER (PARTITION BY event_type) AS n1
       |  FROM perv),
       |sagg AS (SELECT event_type,
       |    CAST(max(n0) AS BIGINT) AS n0, CAST(max(n1) AS BIGINT) AS n1,
       |    sum(CAST(abs(c0 * n1 - c1 * n0) AS HUGEINT)
       |        * COALESCE(gap, 0)) AS sterm
       |  FROM c GROUP BY event_type)
       |SELECT event_type, n0, n1,
       |  CAST(sterm // (n0 * n1) AS BIGINT) AS w1
       |FROM sagg ORDER BY event_type""".stripMargin

  /** PER-SCENARIO MODELS — the reference's actual modeling grain
    * (IC2E fits runtime models per prediction group, not one global
    * surface): [[graft.ops.Ols.fitPerGroup]] computes EVERY
    * scenario's sufficient statistics in ONE grouped pass (10k models
    * = one corpus scan) and solves them at the driver; scoring is a
    * literal CASE chain over the bounded group set — per-group
    * weights, still pure codegen'd long multiply-add, no join. Output
    * is the per-scenario MAPE table under the per-scenario weights;
    * oracle replays the CASE chain with all weight vectors inlined
    * post-fit. */
  def qPredictGrouped(s: SparkSession, dir: String): (DataFrame, String) = {
    val df = olsFrame(s, dir)
    val models = Ols.fitPerGroup(df, OlsFeatures, "y_c", "l_returnflag")
    (df.withColumn("pred_ppm",
        Ols.predictPpmGrouped(models, OlsFeatures, "l_returnflag"))
      .withColumn("ape_ppm", expr("abs(pred_ppm - y_c * 1000000) DIV y_c"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("ape_ppm")).as("sum_ape_ppm"))
      .withColumn("mape_ppm", expr("sum_ape_ppm DIV n"))
      .orderBy(col("l_returnflag")), qPredictGroupedSql(models))
  }

  private def qPredictGroupedSql(ms: Map[String, Ols.Model]): String = {
    val cases = ms.toSeq.sortBy(_._1).map { case (g, m) =>
      s"WHEN '$g' THEN ${olsPredictSql(m)}"
    }.mkString(" ")
    s"""WITH $olsFrameSql,
       |p AS (SELECT l_returnflag, y_c,
       |        CAST(CASE l_returnflag $cases END AS BIGINT) AS pred_ppm
       |      FROM li),
       |a AS (SELECT l_returnflag,
       |        abs(pred_ppm - y_c * 1000000) // y_c AS ape_ppm
       |      FROM p)
       |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       |  ${Num.sumSql("ape_ppm")} AS sum_ape_ppm,
       |  ${Num.sumSql("ape_ppm")} // count(*) AS mape_ppm
       |FROM a GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin
  }

  /** COEFFICIENT OF DETERMINATION as exact-integer data — the other
    * half of the model-evaluation loop (MAPE says how far off, R²
    * says how much variance the model explains): per scenario,
    * `r2_ppm = 10⁶ − SSE·n·10⁶ DIV (n·Σy² − (Σy)²)` using the
    * scaled-by-n sum-of-squares identity, so NO intermediate division
    * ever happens — every term is an exact decimal sum (row squares
    * are longs, accumulation decimal(38,0)) and the single final DIV
    * is a non-negative integral division both engines floor
    * identically. Each scenario is scored under ITS OWN model
    * ([[Ols.fitPerGroup]]): per-group least squares with an intercept
    * guarantees SSE ≤ SST within the group — a GLOBAL model carries
    * no such per-group guarantee (measured: the global qty model IS
    * worse than the group mean inside every return-flag group, which
    * is itself a finding the per-scenario fit corrects) — and the
    * entry REQUIRES the non-negativity the final division depends on. */
  def qPredictR2(s: SparkSession, dir: String): (DataFrame, String) = {
    val df = olsFrame(s, dir)
    val ms = Ols.fitPerGroup(df, OlsFeatures, "y_c", "l_returnflag")
    val rows = df
      .withColumn("pred_ppm",
        Ols.predictPpmGrouped(ms, OlsFeatures, "l_returnflag"))
      .withColumn("pred_c", expr("pred_ppm DIV 1000000"))
      .withColumn("r", col("pred_c") - col("y_c"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("y_c").cast("decimal(38,0)")).as("sy"),
        sum((col("y_c") * col("y_c")).cast("decimal(38,0)")).as("syy"),
        sum((col("r") * col("r")).cast("decimal(38,0)")).as("sse"),
        min(col("pred_ppm")).as("min_pred_ppm"))
      .collect() // bounded: one row per scenario
    // the R² division happens DRIVER-SIDE over the exact sums, so a
    // degenerate group is a GATED refusal with a named group — never
    // a null-division NPE here or a division-by-zero in the oracle
    val out = rows.map { r =>
      val g = r.getString(0)
      val n = BigInt(r.getLong(1))
      val sy = BigInt(r.getDecimal(2).toBigInteger)
      val syy = BigInt(r.getDecimal(3).toBigInteger)
      val sse = BigInt(r.getDecimal(4).toBigInteger)
      val sst = n * syy - sy * sy
      require(sst > 0,
        s"constant target in group $g (n·Σy² − (Σy)² = $sst): R² is " +
          "undefined — drop or merge the degenerate scenario")
      require(r.getLong(5) >= 0L,
        s"negative prediction in group $g — integral division would " +
          "floor differently across engines")
      val r2 = BigInt(1000000) - (sse * n * 1000000) / sst
      require(r2 >= 0,
        s"SSE exceeded SST on training group $g")
      (g, r.getLong(1), r2.toLong)
    }
    import s.implicits._
    (out.toSeq.toDF("l_returnflag", "n", "r2_ppm")
      .orderBy(col("l_returnflag")), qPredictR2Sql(ms))
  }

  private def qPredictR2Sql(ms: Map[String, Ols.Model]): String = {
    val cases = ms.toSeq.sortBy(_._1).map { case (g, m) =>
      s"WHEN '$g' THEN ${olsPredictSql(m)}"
    }.mkString(" ")
    s"""WITH $olsFrameSql,
       |p AS (SELECT l_returnflag, y_c,
       |        (CASE l_returnflag $cases END) // 1000000 - y_c AS r
       |      FROM li),
       |g AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       |        sum(CAST(y_c AS HUGEINT)) AS sy,
       |        sum(CAST(y_c AS HUGEINT) * y_c) AS syy,
       |        sum(CAST(r AS HUGEINT) * r) AS sse
       |      FROM p GROUP BY l_returnflag)
       |SELECT l_returnflag, n,
       |  CAST(1000000 - (sse * n * 1000000) // (n * syy - sy * sy)
       |    AS BIGINT) AS r2_ppm
       |FROM g ORDER BY l_returnflag""".stripMargin
  }

  /** The literal memory-price model behind `q_cost_predict` — the
    * reference's FaaS cost shape (cost = runtime × memory × unit
    * price; tutorial/README.md's `--memorySettings [256,1024]` and
    * BASELINE.md row 12): each scenario runs at a memory setting, and
    * the unit price is a constant per MB·runtime-unit. Pure literals
    * — they ride into codegen AND into the oracle verbatim. */
  private val MemMbSql =
    "CASE l_returnflag WHEN 'A' THEN 256 WHEN 'N' THEN 512 ELSE 1024 END"
  private val PricePerMbUnit = 17L

  /** COST PREDICTION — the second half of the reference's headline
    * analytic (research.md:19 publishes BOTH runtime MAPE 3.49% and
    * "$6.46 average error on $150.45 average cost" over
    * million-invocation workloads): the fitted runtime model
    * ([[graft.ops.Ols]], weights as ppm literals) composes with a
    * literal memory-price table into a predicted COST per run —
    * `cost = (pred_ppm DIV 10⁶) · mem_mb · price`, pure long
    * multiply-add inside codegen — and the per-scenario report mirrors
    * the published framing: average actual cost, average absolute
    * cost error, and the relative cost error in ppm. Every division
    * is integral over non-negative exact sums (decimal accumulation;
    * the final DIVs happen DRIVER-side over BigInts after gating
    * non-negativity), so the oracle replays the whole loop with the
    * weight vector and price table inlined post-fit. */
  def qCostPredict(s: SparkSession, dir: String): (DataFrame, String) = {
    val df = olsFrame(s, dir)
    val m = Ols.fit(df, OlsFeatures, "y_c")
    val rows = df
      .withColumn("pred_ppm", Ols.predictPpm(m, OlsFeatures))
      .withColumn("mem_mb", expr(MemMbSql))
      .withColumn("pred_c", expr("pred_ppm DIV 1000000"))
      .withColumn("cost_pred_u",
        expr(s"pred_c * mem_mb * $PricePerMbUnit"))
      .withColumn("cost_act_u",
        expr(s"y_c * mem_mb * $PricePerMbUnit"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("cost_act_u").cast("decimal(38,0)")).as("sum_cost"),
        sum(abs(col("cost_pred_u") - col("cost_act_u"))
          .cast("decimal(38,0)")).as("sum_err"),
        min(col("pred_ppm")).as("min_pred_ppm"))
      .collect() // bounded: one row per scenario
    val out = rows.map { r =>
      val g = r.getString(0)
      // negative predictions would make DIV (trunc) and // (floor)
      // disagree — gate, exactly as q_predict_r2 does
      require(r.getLong(4) >= 0L,
        s"negative prediction in scenario $g — integral division " +
          "would floor differently across engines")
      val n = BigInt(r.getLong(1))
      val sumCost = BigInt(r.getDecimal(2).toBigInteger)
      val sumErr = BigInt(r.getDecimal(3).toBigInteger)
      require(sumCost > 0, s"zero actual cost in scenario $g — " +
        "the relative error is undefined")
      (g, r.getLong(1), (sumCost / n).toLong, (sumErr / n).toLong,
        (sumErr * 1000000 / sumCost).toLong)
    }
    import s.implicits._
    (out.toSeq
      .toDF("l_returnflag", "n", "avg_cost_u", "avg_err_u",
        "cost_err_ppm")
      .orderBy(col("l_returnflag")), qCostPredictSql(m))
  }

  private def qCostPredictSql(m: Ols.Model): String =
    s"""WITH $olsFrameSql,
       |p AS (SELECT l_returnflag, y_c,
       |        CAST(${olsPredictSql(m)} AS BIGINT) AS pred_ppm,
       |        $MemMbSql AS mem_mb
       |      FROM li),
       |c AS (SELECT l_returnflag,
       |        (pred_ppm // 1000000) * mem_mb * $PricePerMbUnit
       |          AS cost_pred_u,
       |        y_c * mem_mb * $PricePerMbUnit AS cost_act_u
       |      FROM p),
       |g AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       |        sum(CAST(cost_act_u AS HUGEINT)) AS sum_cost,
       |        sum(CAST(abs(cost_pred_u - cost_act_u) AS HUGEINT))
       |          AS sum_err
       |      FROM c GROUP BY l_returnflag)
       |SELECT l_returnflag, n,
       |  CAST(sum_cost // n AS BIGINT) AS avg_cost_u,
       |  CAST(sum_err // n AS BIGINT) AS avg_err_u,
       |  CAST(sum_err * 1000000 // sum_cost AS BIGINT) AS cost_err_ppm
       |FROM g ORDER BY l_returnflag""".stripMargin

  /** CONTINUOUS MODEL MAINTENANCE with BATCH PARITY
    * ([[graft.streaming.OlsStream]]): the regression frame lands as
    * three micro-batches; each batch reduces to its sufficient
    * statistics and folds ADDITIVELY into a standing 1-row stats
    * state republished on the snapshot protocol (tagged per batch —
    * replay folds nothing twice, and time travel re-solves the model
    * AS OF any ingestion point). The entry REQUIRES one stats version
    * per batch AND the streamed model BIT-IDENTICAL to the batch fit
    * over the union — exact integer statistics make streaming
    * training the batch fit maintained incrementally, not an
    * approximation. Output: the per-scenario MAPE table scored with
    * the STREAMED weights; oracle inlines them post-run. */
  def qOlsStream(s: SparkSession, dir: String): (DataFrame, String) = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val tmp = StreamQueries.scratch(s, "olsstream")
    val df = olsFrame(s, dir)
    df.withColumn("f", pmod(col("l_orderkey"), lit(3L)))
      .select(col("qty"), col("disc_bp"), col("tax_bp"), col("y_c"),
        col("f"))
      .repartition(col("f")).write.partitionBy("f").parquet(s"$tmp/in")
    val schema = StructType((OlsFeatures :+ "y_c").map(c =>
      StructField(c, LongType)))
    val streamed = graft.streaming.OlsStream.runFit(s,
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$tmp/in/f=*/*.parquet"),
      OlsFeatures, "y_c", s"$tmp/stats", s"$tmp/ckpt")
    require(SnapTable.versions(s, s"$tmp/stats").size >= 3,
      "model maintenance must be multi-batch (one stats version each)")
    val batch = Ols.fit(df, OlsFeatures, "y_c")
    require(streamed.wPpm.sameElements(batch.wPpm),
      s"streamed model drifted from the batch fit: " +
        s"${streamed.wPpm.toSeq} vs ${batch.wPpm.toSeq}")
    (Ols.mapeReport(df, streamed, OlsFeatures, "y_c", "l_returnflag")
      .orderBy(col("l_returnflag")), mapeSql(streamed))
  }

  /** DuckDB spelling of [[olsFrame]] — keep in lock-step. */
  private val olsFrameSql: String =
    s"""li AS (SELECT l_orderkey,
       |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
       |  CAST(round(l_quantity, 0) AS BIGINT) AS qty,
       |  CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_bp,
       |  CAST(round(l_tax * 100, 0) AS BIGINT) AS tax_bp,
       |  ${Num.centsSql("l_extendedprice")} AS y_c,
       |  l_returnflag FROM lineitem)""".stripMargin

  private def olsPredictSql(m: Ols.Model): String =
    (s"${m.wPpm(0)}" +: OlsFeatures.zipWithIndex.map { case (f, i) =>
      s"${m.wPpm(i + 1)} * $f" }).mkString(" + ")

  def entries: Map[String, (Run, String)] = Map(
    "q_wasserstein" -> (qWasserstein _, qWassersteinSql),
    "q_pagerank" -> (qPagerank _, qPagerankSql),
    "q_schema_evolution" -> (qSchemaEvolution _, qSchemaEvolutionSql),
    "q_layout_audit" -> (qLayoutAudit _, qLayoutAuditSql),
    "q_zorder" -> (qZorder _, qZorderSql),
    "q_backfill" -> (qBackfill _, qBackfillSql),
    "q_compact_files" -> (qCompactFiles _, qCompactFilesSql),
    "q_time_travel" -> (qTimeTravel _, qTimeTravelSql),
    "q_snapshot_diff" -> (qSnapshotDiff _, qSnapshotDiffSql),
    "q_snapshot_vacuum" -> (qSnapshotVacuum _, qSnapshotVacuumSql),
    "q_snapshot_optimize" -> (qSnapshotOptimize _, qSnapshotOptimizeSql),
    "q_incremental_mv" -> (qIncrementalMv _, qIncrementalMvSql),
    "q_cdc_mv_stream" -> (qCdcMvStream _, qCdcMvStreamSql),
    "q_snapshot_merge" -> (qSnapshotMerge _, qSnapshotMergeSql),
    "q_snapshot_erase" -> (qSnapshotErase _, qSnapshotEraseSql),
    "q_commit_retry" -> (qCommitRetry _, qCommitRetrySql),
    "q_optimize_race" -> (qOptimizeRace _, qOptimizeRaceSql),
    "q_snapshot_prune" -> (qSnapshotPrune _, qSnapshotPruneSql),
    "q_snapshot_skip" -> (qSnapshotSkip _, qSnapshotSkipSql),
    "q_snapshot_partitioned" ->
      (qSnapshotPartitioned _, qSnapshotPartitionedSql),
    "q_sql_snapshot" -> (qSqlSnapshot _, qSqlSnapshotSql),
    "q_delete_vectors" -> (qDeleteVectors _, qDeleteVectorsSql),
    "q_snapshot_widen" -> (qSnapshotWiden _, qSnapshotWidenSql),
    "q_optimize_sized" -> (qOptimizeSized _, qOptimizeSizedSql),
    "q_snapshot_incremental" ->
      (qSnapshotIncremental _, qSnapshotIncrementalSql),
    "q_snapshot_skip_str" -> (qSnapshotSkipStr _, qSnapshotSkipStrSql),
    "q_snapshot_zorder" -> (qSnapshotZorder _, qSnapshotZorderSql),
    "q_snapshot_schema_evo" -> (qSnapshotSchemaEvo _, qSnapshotSchemaEvoSql),
    "q_commit_audit" -> (qCommitAudit _, qCommitAuditSql),
    "q_targeted_delete" -> (qTargetedDelete _, qTargetedDeleteSql),
    "q_partition_prune" -> (qPartitionPrune _, qPartitionPruneSql),
    "q_quality" -> (qQuality _, qQualitySql),
    "q_delta_metrics" -> (qDeltaMetrics _, qDeltaMetricsSql),
    "q_histogram" -> (qHistogram _, qHistogramSql),
    "q_grouping_sets" -> (qGroupingSets _, qGroupingSetsSql),
    "q_overlap_all" -> (qOverlapAll _, qOverlapAllSql),
    "q_payload_shuffle" -> (qPayloadShuffle _, qPayloadShuffleSql),
    "q_asof_join" -> (qAsofJoin _, qAsofJoinSql),
    // the same independent native-ASOF oracle
    "q_asof_bucketed" -> (qAsofBucketed _, qAsofJoinSql),
    "q_profile" -> (qProfile _, qProfileSql),
    "q_rolling_window" -> (qRollingWindow _, qRollingWindowSql),
    "q_pivot" -> (qPivot _, qPivotSql),
    "q_unpivot" -> (qUnpivot _, qUnpivotSql),
    "q_orc_roundtrip" -> (qOrcRoundtrip _, qOrcRoundtripSql),
    "q_upsert" -> (qUpsert _, qUpsertSql),
    "q_sliding_window" -> (qSlidingWindow _, qSlidingWindowSql),
    "q_quantiles" -> (qQuantiles _, qQuantilesSql),
    "q_hll_distinct" -> (qHllDistinct _, qHllDistinctSql),
    "q_cms_topk" -> (qCmsTopk _, qCmsTopkSql),
    "q_jsonl_gz" -> (qJsonlGz _, qJsonlGzSql),
    "q_quantiles_hist" -> (qQuantilesHist _, qQuantilesHistSql),
    "q_funnel" -> (qFunnel _, qFunnelSql),
    "q_cohort_retention" -> (qCohortRetention _, qCohortRetentionSql),
    "q_copurchase" -> (qCopurchase _, qCopurchaseSql),
    "q_rfm" -> (qRfm _, qRfmSql),
    "q_outlier_events" -> (qOutlierEvents _, qOutlierEventsSql),
    "q_skew_audit" -> (qSkewAudit _, qSkewAuditSql),
    "q_assoc_rules" -> (qAssocRules _, qAssocRulesSql),
    "q_gap_fill" -> (qGapFill _, qGapFillSql),
    "q_scd2" -> (qScd2 _, qScd2Sql))

  override def trained
      : Map[String, (SparkSession, String) => (DataFrame, String)] = Map(
    "q_runtime_predict" -> (qRuntimePredict _),
    "q_predict_mape" -> (qPredictMape _),
    "q_predict_compare" -> (qPredictCompare _),
    "q_ols_stream" -> (qOlsStream _),
    "q_predict_grouped" -> (qPredictGrouped _),
    "q_predict_r2" -> (qPredictR2 _),
    "q_cost_predict" -> (qCostPredict _),
    "q_welch_t" -> (qWelchT _))
}
