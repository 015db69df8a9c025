package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Num, Tables}
import graft.report._

/** Report-engine queries over the `events` table, which plays the
  * run-record role (SURVEY §2.2-§2.7): user_id ~ vmID, event_type ~
  * functionName, value ~ runtime.
  */
object ReportQueries extends graft.QueryModule {

  private def eventsC(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("value_c", Num.cents(col("value")))

  // ---- P11 sentinel fill + O1 sorted columns -----------------------------

  def qSentinelFill(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsC(s, dir)
    val a = ev.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("value_c").as("metric_a"))
    val b = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("value_c").as("metric_b"))
    RunRecords.sortedColumns(RunRecords.unionFill(Seq(a, b)))
      .orderBy(col("event_id"))
  }

  val qSentinelFillSql: String =
    s"""SELECT event_id, metric_a, metric_b, user_id FROM (
       |  SELECT event_id, user_id, ${Num.centsSql("value")} AS metric_a,
       |         CAST(-999999999999 AS BIGINT) AS metric_b
       |  FROM events WHERE event_type = 'signup'
       |  UNION ALL
       |  SELECT event_id, user_id, CAST(-999999999999 AS BIGINT),
       |         ${Num.centsSql("value")}
       |  FROM events WHERE event_type = 'error')
       |ORDER BY event_id""".stripMargin

  // ---- A1-A8 group section + P12 invalidators + P16 warm-up --------------

  def qReportGroups(s: SparkSession, dir: String): DataFrame = {
    val prepared = RunRecords.warmupFilter(
      RunRecords.invalidatorFilter(eventsC(s, dir), Map("event_type" -> "error")),
      "event_id", 100)
      .select(col("event_type"), col("value_c"),
        col("value_c").as("value_sum_c"), col("user_id"))
    Groups.section(prepared, Groups.GroupConfig(
      category = "event_type",
      showAsSum = Set("value_sum_c"),
      showAsList = Set("user_id")))
  }

  val qReportGroupsSql: String =
    s"""SELECT event_type, count(*) AS uses,
       |  round(avg(${Num.centsSql("value")}), 2) AS avg_value_c,
       |  ${Num.sumSql(Num.centsSql("value"))} AS sum_value_sum_c,
       |  array_to_string(list_sort(list_distinct(list(
       |    replace(CAST(user_id AS VARCHAR), ',', ';')))), ';') AS user_id_list
       |FROM events
       |WHERE NOT (CAST(event_type AS VARCHAR) = 'error') AND event_id >= 100
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- J2 tenancy count-join ---------------------------------------------

  def qTenancy(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"))
    Tenancy.enrich(ev, "user_id", "event_type")
      .select(col("event_id"), col("user_id"), col("tenants"),
        col("ztenancy_user_id"))
      .orderBy(col("event_id"))
  }

  val qTenancySql: String =
    """WITH c AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS tenants,
      |         min(CAST(event_type AS VARCHAR)) AS attr
      |  FROM events GROUP BY user_id)
      |SELECT e.event_id, e.user_id, c.tenants,
      |       c.attr || ' - ' || CAST(c.tenants AS VARCHAR) AS ztenancy_user_id
      |FROM events e JOIN c USING (user_id)
      |ORDER BY e.event_id""".stripMargin

  // ---- W1 pipeline running totals ----------------------------------------

  def qPipelineWindow(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsC(s, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value_c"))
    PipelineWindow.runningTotalLong(ev,
        partitionCols = Seq("user_id"),
        orderCols = Seq("ts_us", "event_id"),
        metric = "value_c", as = "run_c")
      .orderBy(col("event_id"))
  }

  val qPipelineWindowSql: String =
    s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       |  ${Num.centsSql("value")} AS value_c,
       |  CAST(sum(${Num.centsSql("value")}) OVER (
       |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS run_c
       |FROM events ORDER BY event_id""".stripMargin

  // ---- U1 iteration union + P16 ------------------------------------------

  def qUnionIterations(s: SparkSession, dir: String): DataFrame = {
    val base = eventsC(s, dir).select(
      col("event_id"), col("user_id"), col("value_c"))
    val parts = (0 until 3).map(i => base.filter(pmod(col("event_id"), lit(3)) === i))
    RunRecords.warmupFilter(
        RunRecords.combineIterations(parts, "user_id"), "iteration", 1)
      .withColumn("iteration", col("iteration").cast("long"))
      .orderBy(col("event_id"))
  }

  val qUnionIterationsSql: String =
    s"""SELECT event_id, user_id, ${Num.centsSql("value")} AS value_c,
       |  event_id % 3 AS iteration,
       |  CAST(user_id AS VARCHAR) || '[' || CAST(event_id % 3 AS VARCHAR)
       |    || ']' AS user_id_iter
       |FROM events WHERE event_id % 3 >= 1
       |ORDER BY event_id""".stripMargin

  // ---- J1 interval-overlap theta self-join -------------------------------

  // fixed width, not binnedAuto: below ~100k rows the self-tuning
  // quantile job's fixed cost (~0.3s) dominates the join it tunes
  // (measured in PLANS.md r11); binnedAuto wins from sf0.1 up
  def qOverlap(s: SparkSession, dir: String): DataFrame =
    Overlap.binned(Tables.events(s, dir))

  val qOverlapSql: String =
    s"""WITH iv AS (
       |  SELECT event_id AS id, event_type AS k, epoch_us(ts) AS s,
       |         epoch_us(ts) + CAST(round(value*1000000,0) AS BIGINT) AS e
       |  FROM events),
       |pairs AS (
       |  SELECT a.id, least(a.e, b.e) - greatest(a.s, b.s) AS ov
       |  FROM iv a JOIN iv b
       |    ON a.k = b.k AND a.id <> b.id AND a.s < b.e AND b.s < a.e)
       |SELECT i.id AS event_id,
       |  CAST(COALESCE(sum(p.ov), 0) AS BIGINT) AS ov_us,
       |  CASE WHEN i.e = i.s THEN 0.0
       |    ELSE COALESCE(sum(p.ov), 0) / (i.e - i.s) END AS overlap_ratio
       |FROM iv i LEFT JOIN pairs p ON i.id = p.id
       |GROUP BY i.id, i.e, i.s
       |ORDER BY i.id""".stripMargin

  /** A8 per-group raw dump + A9 successful-run count, as one entry:
    * every "run" of the `click` group, columns name-sorted (O1), with
    * the section's run count riding along. Drops `props` (free-text
    * JSON with commas/newlines — the report writer sanitizes it, but
    * the raw dump here mirrors the pruned section shape, P15).
    *
    * The count rides along as a 1-row broadcast (the tf-idf
    * corpus-size shape), NOT a `count over partitionBy(lit(1))`
    * window — that window funnels the whole section through one
    * task, and the raw dump is the full run set. */
  def qRawOfGroup(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsC(s, dir)
      .select("event_id", "user_id", "event_type", "ts_us", "value_c")
    val raw = Groups.rawOfGroup(ev, "event_type", "click")
    val n = raw.agg(count(lit(1)).as("n_runs"))
    raw.crossJoin(broadcast(n)).orderBy(col("event_id"))
  }

  val qRawOfGroupSql: String =
    s"""WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
       |              ${Num.centsSql("value")} AS value_c FROM events
       |            WHERE event_type = 'click')
       |SELECT event_id, event_type, ts_us, user_id, value_c,
       |  CAST(count(*) OVER () AS BIGINT) AS n_runs
       |FROM ev ORDER BY event_id""".stripMargin

  // ---- End-to-end combined-report lifecycle (SURVEY §3.1/§3.2) -----------

  /** The reference's full experiment lifecycle as ONE oracle-checked
    * entry (experiment_orchestrator.py:222-237): payload inheritance
    * resolves per-memory-setting payloads (J3), each setting runs the
    * staged pipeline per iteration (St3 state machine with a
    * re-routing transition + J4 `transitions` renames), iterations are
    * union-tagged (U1) with the warm-up iteration dropped (P16), both
    * settings are schema-unioned into one combined run list, the
    * invalidator purge runs (P12), and the report's W1 running totals
    * accumulate each metric across pipeline stages within a
    * (memory, iteration, user) group.
    *
    * The pipeline frame is the accumulated run list: each stage
    * derives its invocation records from the previous stage's rows
    * (input fed through the `out_c`→`in_c` rename, exactly the
    * reference's `{**passOn, **lastPayload}` pass) and appends them,
    * so the staged union the reference builds run-by-run falls out of
    * one declarative plan per (setting, iteration) — narrow per-row
    * ops plus ONE window shuffle at the end; no driver-side data.
    *
    * The transition hook skips the poison stage (index 2) — if the
    * state machine ever routed through it the oracle would mismatch,
    * so the re-route is verified, not just exercised. */
  def qE2eReport(s: SparkSession, dir: String): DataFrame = {
    import graft.runner.{PayloadInheritance, PipelineRunner}
    import PipelineRunner.Stage

    // J3: experiment payloads override the parent default; the folder
    // level contributes the experiment name. A broken merge bias would
    // surface as memory_mb=128 or a missing experiment column.
    val payloads = PayloadInheritance.prepare(
      payloads = Seq(Map("memory_mb" -> 512L), Map("memory_mb" -> 1024L)),
      folder = Seq(Map("experiment" -> "e2e-demo"), Map("experiment" -> "e2e-demo")),
      parent = Map("memory_mb" -> 128L))

    val stage0 = Stage("invoke", df => df
      .withColumn("value_c", col("value0_c") + col("memory_mb") * 100)
      .withColumn("out_c", col("value_c"))
      .withColumn("3_pipeline_stage", lit(0)))
    // Later stages read the renamed `in_c` (J4) of the previous
    // stage's rows and append their own invocation records.
    def follow(k: Int, prev: Int, f: Column => Column) = Stage(s"s$k", df => {
      val next = df.filter(col("3_pipeline_stage") === prev)
        .withColumn("value_c", f(col("in_c")))
        .withColumn("out_c", col("value_c"))
        .withColumn("3_pipeline_stage", lit(k))
      df.unionByName(next)
    })
    val stages = Seq(
      stage0,
      follow(1, 0, in => in - col("memory_mb") * 50),
      Stage("poison", _.withColumn("value_c", lit(-1L))), // skipped
      follow(3, 1, in => in + lit(13L)))
    val skipPoison: PipelineRunner.Transition =
      (i, _, _) => if (i == 1) 3 else i + 1

    val ev = eventsC(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      col("value_c").as("value0_c"))

    val perSetting = payloads.map { p =>
      val iters = (0 until 3).map { i =>
        val slice = ev
          .filter(pmod(col("event_id"), lit(3)) === i)
          .withColumn("memory_mb", lit(p("memory_mb").asInstanceOf[Long]))
          .withColumn("experiment", lit(p("experiment").toString))
        PipelineRunner.run(slice, stages, skipPoison,
          tagStages = false, keyRenames = Map("out_c" -> "in_c"),
          materializeStages = true)
      }
      RunRecords.warmupFilter(
        RunRecords.combineIterations(iters, "user_id"), "iteration", 1)
    }
    val combined = RunRecords.invalidatorFilter(
      RunRecords.unionFill(perSetting), Map("event_type" -> "error"))

    PipelineWindow.runningTotalLong(combined,
        partitionCols = Seq("memory_mb", "iteration", "user_id"),
        orderCols = Seq("3_pipeline_stage", "event_id"),
        metric = "value_c", as = "run_c")
      .select(col("event_id"), col("user_id"), col("user_id_iter"),
        col("iteration").cast("long").as("iteration"),
        col("memory_mb"), col("experiment"),
        col("3_pipeline_stage").cast("long").as("pipeline_stage"),
        col("value_c"), col("run_c"))
      .orderBy(col("memory_mb"), col("event_id"), col("pipeline_stage"))
  }

  val qE2eReportSql: String =
    s"""WITH base AS (
       |  SELECT event_id, user_id, CAST(event_id % 3 AS BIGINT) AS iteration,
       |         ${Num.centsSql("value")} AS v0
       |  FROM events
       |  WHERE event_id % 3 >= 1
       |    AND NOT (CAST(event_type AS VARCHAR) = 'error')),
       |m AS (SELECT CAST(v AS BIGINT) AS memory_mb FROM (VALUES (512), (1024)) t(v)),
       |st AS (SELECT CAST(v AS BIGINT) AS pipeline_stage FROM (VALUES (0), (1), (3)) t(v)),
       |runs AS (
       |  SELECT b.event_id, b.user_id,
       |    CAST(b.user_id AS VARCHAR) || '[' || CAST(b.iteration AS VARCHAR)
       |      || ']' AS user_id_iter,
       |    b.iteration, m.memory_mb, 'e2e-demo' AS experiment,
       |    st.pipeline_stage,
       |    CASE st.pipeline_stage
       |      WHEN 0 THEN b.v0 + m.memory_mb * 100
       |      WHEN 1 THEN b.v0 + m.memory_mb * 50
       |      ELSE b.v0 + m.memory_mb * 50 + 13 END AS value_c
       |  FROM base b CROSS JOIN m CROSS JOIN st)
       |SELECT event_id, user_id, user_id_iter, iteration, memory_mb,
       |  experiment, pipeline_stage, value_c,
       |  CAST(sum(value_c) OVER (
       |    PARTITION BY memory_mb, iteration, user_id
       |    ORDER BY pipeline_stage, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_c
       |FROM runs
       |ORDER BY memory_mb, event_id, pipeline_stage""".stripMargin

  def entries: Map[String, (Run, String)] = Map(
    "q_e2e_report" -> (qE2eReport _, qE2eReportSql),
    "q_raw_of_group" -> (qRawOfGroup _, qRawOfGroupSql),
    "q_sentinel_fill" -> (qSentinelFill _, qSentinelFillSql),
    "q_report_groups" -> (qReportGroups _, qReportGroupsSql),
    "q_tenancy" -> (qTenancy _, qTenancySql),
    "q_pipeline_window" -> (qPipelineWindow _, qPipelineWindowSql),
    "q_union_iterations" -> (qUnionIterations _, qUnionIterationsSql),
    "q_overlap" -> (qOverlap _, qOverlapSql))
}
