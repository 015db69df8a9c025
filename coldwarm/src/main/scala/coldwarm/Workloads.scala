package coldwarm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.{Num, Tables}

/** A final output of one pass. */
sealed trait Output
/** Written by the pipeline itself, as parquet under `<pass dir>/<name>`. */
case object Written extends Output
/** Collected into the JVM (the query answers a caller receives). */
final case class Collected(rows: Array[Row], schema: StructType) extends Output
/** A rendered text artifact. */
final case class Text(value: String) extends Output

object Collected {
  def of(df: DataFrame): Collected = Collected(df.collect(), df.schema)
}

/** One closed-loop workload: a pass goes from the generated inputs under
  * `data` to the workload's final outputs. */
trait Workload {
  /** Input tables registered during set-up. */
  def tables: Seq[String]
  /** Output name -> the `SparkEntry.oracleSql` entry it must match. */
  def oracle: Map[String, String]
  def pass(out: String, t: Tracer): Seq[(String, Output)]
}

object Workload {
  def apply(name: String, s: SparkSession, data: String): Workload = name match {
    case "tlq_report" => new Sequence(Seq(new Tlq(s, data), new ReportPass(s, data)))
    case "curation" => new Curation(s, data)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Workloads run one after another in each pass, over one input directory
  * (their tables and output names are disjoint). */
final class Sequence(parts: Seq[Workload]) extends Workload {
  val tables = parts.flatMap(_.tables)
  val oracle = parts.map(_.oracle).reduce(_ ++ _)
  def pass(out: String, t: Tracer): Seq[(String, Output)] = parts.flatMap(_.pass(out, t))
}

/** The paper's Transform -> Load -> Query pipeline. */
final class Tlq(s: SparkSession, data: String) extends Workload {
  import graft.etl.SalesTransform
  import graft.sources.CsvIO

  val tables = Seq("lineitem", "orders", "customer", "nation", "region")

  /** The three Query-stage shapes of `graft.queries.SalesQueries`, run
    * through the S11 surface over the loaded SalesData table. */
  private val shapes = Seq(
    "q_priority" ->
      """SELECT order_priority, count(*) AS n_orders,
        |  sum(revenue_c) AS sum_revenue_c, sum(units_c) AS sum_units_c
        |FROM SalesData WHERE order_priority IN ('Critical', 'High')
        |GROUP BY order_priority ORDER BY order_priority""".stripMargin,
    "q_date_range" ->
      """SELECT country, count(*) AS n_orders, sum(revenue_c) AS sum_revenue_c
        |FROM SalesData
        |WHERE region = 'EUROPE' AND CAST(order_date AS DATE)
        |  BETWEEN DATE'1996-01-01' AND DATE'1998-12-31'
        |GROUP BY country ORDER BY country""".stripMargin,
    "q_region" ->
      """SELECT region, count(*) AS n_orders, sum(units_c) AS sum_units_c,
        |  sum(revenue_c - cost_c) / sum(revenue_c) AS margin_ratio
        |FROM SalesData GROUP BY region ORDER BY region""".stripMargin)

  val oracle = Map(
    "sales_data" -> "q_sales_transform",
    "q_priority" -> "q_sales_priority",
    "q_date_range" -> "q_sales_date_range",
    "q_region" -> "q_sales_report")

  def pass(out: String, t: Tracer): Seq[(String, Output)] = {
    val csvDir = s"$out/sales_csv"
    val parquetDir = s"$out/sales_data"
    val transformed = t.span("etl.transform") {
      t.materialize(SalesTransform.transformed(s, data))
    }
    t.span("sources.csv_write") { CsvIO.writeCsv(transformed, csvDir) }
    if (t.on) {
      t.note("etl.dedup_keep_frac",
        transformed.count().toDouble / Tables.lineitem(s, data).count())
      t.note("sources.csv_write_bytes", bytesUnder(csvDir).toDouble)
    }
    t.span("sources.load") {
      CsvIO.readCsv(s, csvDir, Some(transformed.schema))
        .write.mode("overwrite").parquet(parquetDir)
    }
    val answers = t.span("queries.q") {
      val sales = s.read.parquet(parquetDir)
      shapes.map { case (name, sql) =>
        name -> Collected.of(CsvIO.query(s, sales, "SalesData", sql))
      }
    }
    ("sales_data" -> Written) +: answers
  }

  private def bytesUnder(dir: String): Long = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try files.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally files.close()
  }
}

/** The FaaS-Runner report engine over seeded run records. */
final class ReportPass(s: SparkSession, data: String) extends Workload {
  import graft.report.{ExperimentSpec, Overlap, PipelineWindow, Report, RunRecords}
  import graft.runner.{PayloadInheritance, PipelineRunner}
  import graft.sources.ReportWriter

  val tables = Seq("events")

  val oracle = Map("overlap" -> "q_overlap", "e2e" -> "q_e2e_report")

  private val spec = ExperimentSpec(
    outputGroups = Seq("event_type", "iteration", "stage"),
    outputRawOfGroup = Seq("event_type"),
    showAsSum = Set("value_c"),
    showAsList = Set("stage"),
    ignoreFromGroups = Set("event_id", "user_id"),
    invalidators = Map("event_type" -> "error"),
    removeDuplicateContainers = true)

  def pass(out: String, t: Tracer): Seq[(String, Output)] = {
    val events = t.span("sources.scan") { t.materialize(Tables.events(s, data)) }
    val runs = events.select(col("event_id"), col("user_id"), col("event_type"),
      Num.cents(col("value")).as("value_c"),
      get_json_object(col("props"), "$.iteration").cast("long").as("iteration"),
      get_json_object(col("props"), "$.stage").cast("long").as("stage"))
    // build counts the successful runs, which fills the cached run set;
    // every section is drained by the report writer below
    val sections = t.span("report.build") {
      Report.build(runs, spec, idCol = Some("user_id"),
        attrCol = Some("event_type"), arrivalCol = Some("event_id"))
    }
    val overlapDir = s"$out/overlap"
    t.span("report.overlap") {
      val ov = t.materialize(Overlap.binned(events))
      ov.write.mode("overwrite").parquet(overlapDir)
      if (t.on) t.note("report.overlap_rows", ov.filter(col("ov_us") > 0).count().toDouble)
    }
    val combined = t.span("runner.pipeline") { t.materialize(lifecycle(events)) }
    val e2eDir = s"$out/e2e"
    t.span("report.window") {
      PipelineWindow.runningTotalLong(combined,
          partitionCols = Seq("memory_mb", "iteration", "user_id"),
          orderCols = Seq("3_pipeline_stage", "event_id"),
          metric = "value_c", as = "run_c")
        .select(col("event_id"), col("user_id"), col("user_id_iter"),
          col("iteration").cast("long").as("iteration"),
          col("memory_mb"), col("experiment"),
          col("3_pipeline_stage").cast("long").as("pipeline_stage"),
          col("value_c"), col("run_c"))
        .write.mode("overwrite").parquet(e2eDir)
    }
    val csv = t.span("sources.report_csv") {
      ReportWriter.reportCsv("coldwarm", sections)
    }
    Seq("report" -> Text(csv), "successful_runs" -> Text(sections.successfulRuns.toString),
      "overlap" -> Written, "e2e" -> Written)
  }

  /** The experiment lifecycle `q_e2e_report` composes, up to its running
    * totals: payload inheritance, the staged pipeline per iteration with
    * a re-routing transition and key renames, the iteration union with
    * the warm-up purge, the settings union and the invalidator purge. */
  private def lifecycle(events: DataFrame): DataFrame = {
    import PipelineRunner.Stage
    val payloads = PayloadInheritance.prepare(
      payloads = Seq(Map("memory_mb" -> 512L), Map("memory_mb" -> 1024L)),
      folder = Seq(Map("experiment" -> "e2e-demo"), Map("experiment" -> "e2e-demo")),
      parent = Map("memory_mb" -> 128L))
    val stage0 = Stage("invoke", df => df
      .withColumn("value_c", col("value0_c") + col("memory_mb") * 100)
      .withColumn("out_c", col("value_c"))
      .withColumn("3_pipeline_stage", lit(0)))
    def follow(k: Int, prev: Int, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Stage(s"s$k", df => df.unionByName(
        df.filter(col("3_pipeline_stage") === prev)
          .withColumn("value_c", f(col("in_c")))
          .withColumn("out_c", col("value_c"))
          .withColumn("3_pipeline_stage", lit(k))))
    val stages = Seq(
      stage0,
      follow(1, 0, in => in - col("memory_mb") * 50),
      Stage("poison", _.withColumn("value_c", lit(-1L))),
      follow(3, 1, in => in + lit(13L)))
    val skipPoison: PipelineRunner.Transition = (i, _, _) => if (i == 1) 3 else i + 1
    val ev = events.select(col("event_id"), col("user_id"), col("event_type"),
      Num.cents(col("value")).as("value0_c"))
    val perSetting = payloads.map { p =>
      val iters = (0 until 3).map { i =>
        PipelineRunner.run(
          ev.filter(pmod(col("event_id"), lit(3)) === i)
            .withColumn("memory_mb", lit(p("memory_mb").asInstanceOf[Long]))
            .withColumn("experiment", lit(p("experiment").toString)),
          stages, skipPoison, tagStages = false,
          keyRenames = Map("out_c" -> "in_c"), materializeStages = true)
      }
      RunRecords.warmupFilter(
        RunRecords.combineIterations(iters, "user_id"), "iteration", 1)
    }
    RunRecords.invalidatorFilter(
      RunRecords.unionFill(perSetting), Map("event_type" -> "error"))
  }
}

/** The `q_curation_full` chain: keep-list dedup, decontamination,
  * repetition filter, upsampling mixture and packing. */
final class Curation(s: SparkSession, data: String) extends Workload {
  import graft.ops.{Decontaminate, Mix, Pack, TextAnalysis}

  val tables = Seq("documents")

  val oracle = Map("packs" -> "q_curation_full")

  def pass(out: String, t: Tracer): Seq[(String, Output)] =
    if (!t.on)
      Seq("packs" -> Collected.of(graft.SparkEntry.queries("q_curation_full")(s, data)))
    else Seq("packs" -> Collected.of(staged(t)))

  /** The same chain as `q_curation_full`, one materialized stage per
    * span (the untraced pass runs the library's entry itself). */
  private def staged(t: Tracer): DataFrame = {
    val docs = Tables.documents(s, data)
    val corpus = t.span("ops.keeplist") {
      val keep = graft.SparkEntry.queries("q_dedup_keeplist")(s, data)
        .filter(col("keep") === 1L).select(col("doc_id"))
      t.materialize(docs.join(keep, Seq("doc_id")))
    }
    t.note("ops.keeplist_kept_frac", corpus.count().toDouble / docs.count())
    val scoped = corpus.filter(pmod(col("doc_id"), lit(53)) =!= 0)
    val evalSet = docs.filter(pmod(col("doc_id"), lit(53)) === 0)
    val contaminated = t.span("ops.decontam") {
      t.materialize(Decontaminate.flaggedIds(scoped, evalSet,
          textCol = "text", idCol = "doc_id", evalIdCol = "doc_id",
          n = 3, flagAt = 0.2)
        .select(col("id").as("doc_id")))
    }
    t.note("ops.decontam_flagged", contaminated.count().toDouble)
    val clean = scoped.join(contaminated, Seq("doc_id"), "left_anti")
    val repetitive = t.span("ops.repetition") {
      t.materialize(TextAnalysis.repetitionReport(clean,
          textCol = "text", idCol = "doc_id", flagAt = 0.1)
        .filter(col("repetitive") === 1L).select(col("id").as("doc_id")))
    }
    val mixed = t.span("ops.mix") {
      t.materialize(Mix.mixEpochs(clean.join(repetitive, Seq("doc_id"), "left_anti"),
        textCol = "text", idCol = "doc_id", sourceCol = "source",
        weights = Seq("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
        budgetTokens = 20000L, salt = "cur7b", maxEpochs = 512))
    }
    t.span("ops.pack") {
      t.materialize(Pack.packSummary(
        mixed.select(concat_ws("#", col("id"), col("epoch")).as("copy_id"),
          col("n_tokens")),
        textCol = "n_tokens", idCol = "copy_id",
        budget = 1024L, nShards = 8, tokensOf = c => c))
    }
  }
}
