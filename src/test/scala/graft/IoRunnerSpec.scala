package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.etl.SalesTransform
import graft.report.{ExperimentSpec, Report}
import graft.runner.PipelineRunner
import graft.sources.{CsvIO, ReportWriter}

class CsvIoSpec extends SparkSpec {
  test("sales transform survives a no-quote CSV round-trip") {
    val tmp = Files.createTempDirectory("graft_csv").toString
    val out = SalesTransform.transformed(spark, sf)
      .select("order_id", "region", "order_priority", "processing_days", "revenue_c")
    CsvIO.writeCsv(out, s"$tmp/sales")
    val back = CsvIO.readCsv(spark, s"$tmp/sales")
    assert(back.count() === out.count())
    assert(back.columns.toSeq === out.columns.toSeq)
    val a = out.orderBy("order_id").collect().map(_.toSeq.map(String.valueOf))
    val b = back.orderBy("order_id").collect().map(_.toSeq.map(String.valueOf))
    assert(a.toSeq === b.toSeq)
  }
  test("orc round-trip is value-identical and typed") {
    val tmp = Files.createTempDirectory("graft_orc").toString
    val out = Tables.lineitem(spark, sf)
    CsvIO.writeOrc(out, s"$tmp/li")
    val back = CsvIO.readOrc(spark, s"$tmp/li")
    assert(back.schema === out.schema) // ORC keeps types, unlike CSV
    val key = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val a = out.orderBy(key.head, key.tail: _*).collect().map(_.toSeq)
    val b = back.orderBy(key.head, key.tail: _*).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }
  test("json round-trip unions schema") {
    val tmp = Files.createTempDirectory("graft_json").toString
    CsvIO.writeJson(Tables.nation(spark, sf), s"$tmp/j")
    assert(CsvIO.readJsonDir(spark, s"$tmp/j").count() === 25)
  }
  test("xml round-trip preserves rows through the native source") {
    val tmp = Files.createTempDirectory("graft_xml").toString
    val out = Tables.nation(spark, sf)
    CsvIO.writeXml(out, s"$tmp/x", rowTag = "nation")
    val back = CsvIO.readXml(spark, s"$tmp/x", rowTag = "nation")
    assert(back.count() === 25)
    assert(back.columns.sorted.toSeq === out.columns.sorted.toSeq)
    val key = back.select("n_nationkey").collect().map(_.getLong(0)).sorted
    assert(key.toSeq === (0L until 25L))
  }

  test("TLQ query surface answers SQL over the loaded table") {
    val r = CsvIO.query(spark, SalesTransform.transformed(spark, sf), "SalesData",
      """SELECT region, round(sum(revenue_c) / 100.0, 2) AS revenue
        |FROM SalesData GROUP BY region ORDER BY region""".stripMargin)
    assert(r.count() === 5)
  }
}

class ReportSpecFull extends SparkSpec {
  test("report lifecycle builds sections and writes a splittable CSV") {
    val runs = Tables.events(spark, sf)
      .withColumn("value_c", graft.core.Num.cents(col("value")))
      .select("event_id", "user_id", "event_type", "value_c")
    val spec = ExperimentSpec(
      outputGroups = Seq("event_type"),
      showAsList = Set("user_id"),
      showAsSum = Set("value_c"),
      invalidators = Map("event_type" -> "error"))
    val sections = Report.build(runs, spec,
      idCol = Some("user_id"), attrCol = Some("event_type"))
    assert(sections.successfulRuns > 0)
    assert(sections.groups.contains("event_type"))
    // invalidated group value must be gone
    val cats = sections.groups("event_type").select("event_type")
      .collect().map(_.getString(0))
    assert(!cats.contains("error"))
    val csv = ReportWriter.reportCsv("t", sections)
    val parts = ReportWriter.split(csv)
    assert(parts.exists(_.startsWith("Raw results")))
    assert(parts.exists(_.startsWith("Category event_type:")))
    val tmp = Files.createTempDirectory("graft_rep").toString
    val p1 = ReportWriter.write(tmp, "report", csv)
    val p2 = ReportWriter.write(tmp, "report", csv)
    assert(p1.endsWith("report.csv") && p2.endsWith("report-1.csv"))
  }
  test("escCol rendering of timestamp/date/array columns is pinned (cast form)") {
    // the expression path renders via cast-to-string, which differs
    // from Row.toString for these types (no trailing .0, '[1, 2]'
    // not 'WrappedArray(1, 2)'); pin the exact bytes so the
    // typed-map-to-expression swap can never silently change a
    // report that later gains such a column
    import spark.implicits._
    val df = Seq((java.sql.Timestamp.valueOf("2024-01-02 03:04:05"),
        java.sql.Date.valueOf("2024-01-02"), Seq(1, 2), 1.5))
      .toDF("ts", "d", "arr", "x")
    val csv = ReportWriter.sectionCsv(df)
    assert(csv ===
      "ts,d,arr,x\n2024-01-02 03:04:05,2024-01-02,[1; 2],1.5")
  }

  test("report sections carry no timestamp/date/array columns (rendering guard)") {
    // today every section column is string/numeric, so the cast
    // rendering is identity-safe; if a section ever gains one of the
    // divergent types this trips and the pin above documents the form
    val runs = Tables.events(spark, sf)
      .withColumn("value_c", graft.core.Num.cents(col("value")))
      .select("event_id", "user_id", "event_type", "value_c")
    val spec = ExperimentSpec(
      outputGroups = Seq("event_type"),
      showAsList = Set("user_id"),
      showAsSum = Set("value_c"))
    val sections = Report.build(runs, spec,
      idCol = Some("user_id"), attrCol = Some("event_type"))
    val all = sections.raw +:
      (sections.groups.values ++ sections.rawOfGroups.values).toSeq
    all.foreach(df => df.schema.foreach { f =>
      val t = f.dataType.typeName
      assert(t != "array" && !t.startsWith("timestamp") && t != "date",
        s"section column ${f.name} has divergent-rendering type $t")
    })
  }

  test("raw sections are written distributed — no collect on the raw path") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.util.QueryExecutionListener
    val runs = spark.range(0, 10000, 1, 8)
      .select(col("id"), (col("id") % 7).as("k"))
    val sections = Report.Sections(
      raw = runs, successfulRuns = 10000L, groups = Map.empty,
      rawOfGroups = Map("k" -> runs.orderBy("k", "id")))
    Bridge.drainListenerBus(spark) // flush prior tests' events
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = seen.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = seen.add(funcName)
    }
    spark.listenerManager.register(listener)
    try {
      val tmp = Files.createTempDirectory("graft_nocollect").toString
      val p = ReportWriter.writeReport(tmp, "r", "no-collect", sections)
      Bridge.drainListenerBus(spark)
      val lines = Files.readAllLines(java.nio.file.Paths.get(p))
      // both full-input sections landed: 2 headers + 2x10000 rows + framing
      assert(lines.size() > 20000)
      import scala.jdk.CollectionConverters._
      val funcs = seen.iterator().asScala.toSeq
      assert(funcs.nonEmpty) // the distributed writes were observed
      assert(!funcs.exists(_.toLowerCase.contains("collect")),
        s"driver-side collect on raw path: $funcs")
    } finally spark.listenerManager.unregister(listener)
  }
  test("splitToFiles mirrors report_splitter.py: per-section CSVs, colon-free names") {
    val tmp = Files.createTempDirectory("graft_split").toString
    val report = "Report title\n\nRaw results of experiment:\na,b\n1,2\n\n" +
      "Category event_type:\nnote without comma\nx,y\n3,4\n"
    val p = ReportWriter.write(tmp, "rep", report)
    val written = ReportWriter.splitToFiles(p)
    assert(written.map(w => java.nio.file.Paths.get(w).getFileName.toString)
      .toSet === Set("Raw results of experiment.csv", "Category event_type.csv"))
    val cat = written.find(_.contains("Category")).get
    // only comma-bearing lines survive, like the reference
    assert(Files.readString(java.nio.file.Paths.get(cat)) === "x,y\n3,4\n")
    // second call: directory exists -> no-op, reference behavior
    assert(ReportWriter.splitToFiles(p) === Seq.empty)
  }

  test("e2e lifecycle lands as the reference's -COMBINED multi-section report") {
    // the full orchestrator flow (payloads -> pipeline -> iteration
    // union -> report) ending in the reference's artifact: one
    // multi-section CSV named <experiment>-COMBINED
    val combined = graft.queries.ReportQueries.qE2eReport(spark, sf)
    val spec = ExperimentSpec(
      experimentName = "e2e-demo",
      outputGroups = Seq("experiment"),
      showAsSum = Set("value_c"))
    val sections = Report.build(combined, spec)
    assert(sections.successfulRuns === combined.count())
    val tmp = Files.createTempDirectory("graft_comb").toString
    val p = ReportWriter.writeReport(
      tmp, s"${spec.experimentName}-COMBINED", spec.experimentName, sections)
    assert(p.endsWith("e2e-demo-COMBINED.csv"))
    val parts = ReportWriter.split(
      new String(Files.readAllBytes(java.nio.file.Paths.get(p))))
    assert(parts.exists(_.startsWith("Raw results")))
    assert(parts.exists(_.startsWith("Category experiment:")))
  }

  test("P13: duplicate-container purge keeps the FIRST run in arrival order") {
    import spark.implicits._
    val runs = Seq(
      (1L, "c1", "warm"), (2L, "c2", "cold"),
      (3L, "c1", "hot"), (4L, "c2", "mild"))
      .toDF("seq", "containerID", "state")
    val spec = ExperimentSpec(removeDuplicateContainers = true)
    val sections = Report.build(runs, spec,
      idCol = Some("containerID"), arrivalCol = Some("seq"))
    val kept = sections.raw.orderBy("seq")
      .select("containerID", "state").as[(String, String)].collect()
    assert(kept.toSeq === Seq("c1" -> "warm", "c2" -> "cold"))
  }
}

class PipelineRunnerSpec extends SparkSpec {
  import spark.implicits._
  test("linear chain applies all stages with stage tags") {
    val in = Seq((1, 10)).toDF("id", "x")
    val out = PipelineRunner.run(in, Seq(
      PipelineRunner.Stage("a", _.withColumn("x", $"x" + 1)),
      PipelineRunner.Stage("b", _.withColumn("x", $"x" * 2))))
    val r = out.collect()(0)
    assert(r.getAs[Int]("x") === 22)
    assert(r.getAs[Int]("3_pipeline_stage") === 1)
  }
  test("transition hook can re-route and stop") {
    val in = Seq((1, 0)).toDF("id", "x")
    // run stage 0 twice then stop via -1
    var visits = 0
    val t: PipelineRunner.Transition = (i, n, _) => {
      visits += 1
      if (visits < 2) 0 else -1
    }
    val out = PipelineRunner.run(in, Seq(
      PipelineRunner.Stage("inc", _.withColumn("x", $"x" + 1))), t)
    assert(out.collect()(0).getAs[Int]("x") === 2)
  }
  test("J4: keyRenames feed a stage's output into the next stage's input name") {
    val in = Seq((1, 5)).toDF("id", "x")
    val out = PipelineRunner.run(in, Seq(
      PipelineRunner.Stage("produce", _.withColumn("result", $"x" * 10)),
      PipelineRunner.Stage("consume", df => df.withColumn("y", col("input2") + 1))),
      keyRenames = Map("result" -> "input2"))
    val r = out.collect()(0)
    // original key survives the pass (reference {**passOn, **payload})
    assert(r.getAs[Int]("result") === 50)
    assert(r.getAs[Int]("input2") === 50)
    assert(r.getAs[Int]("y") === 51)
  }
  test("materializeStages checkpoints between stages without changing results") {
    val in = Seq((1, 10), (2, 20)).toDF("id", "x")
    val stages = Seq(
      PipelineRunner.Stage("grow", df => df.unionByName(
        df.withColumn("x", $"x" + 1))), // self-referencing stage
      PipelineRunner.Stage("scale", _.withColumn("x", $"x" * 2)))
    val plain = PipelineRunner.run(in, stages)
      .orderBy("id", "x").collect().map(_.toSeq)
    val mat = PipelineRunner.run(in, stages, materializeStages = true)
      .orderBy("id", "x").collect().map(_.toSeq)
    assert(mat.toSeq === plain.toSeq)
    // the checkpointed route truncates lineage: no parquet/LocalRelation
    // scan multiplication in the final plan
    val plan = PipelineRunner.run(in, stages, materializeStages = true)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD") || plan.contains("Scan ExistingRDD"),
      s"expected an RDD-backed checkpoint boundary in:\n$plan")
  }

  test("J4: renames are not applied to the final output") {
    val in = Seq((1, 5)).toDF("id", "x")
    val out = PipelineRunner.run(in, Seq(
      PipelineRunner.Stage("produce", _.withColumn("result", $"x" * 10))),
      keyRenames = Map("result" -> "input2"))
    assert(!out.columns.contains("input2"))
  }
}

/** S8: the cloud-connector surface. No egress in this container, so
  * the `s3a` scheme is bound to [[S3AStubFileSystem]] (local-backed);
  * everything else — URIs, option plumbing, reader/writer code paths,
  * Hadoop FileSystem resolution — is the real production route.
  */
class S3AIoSpec extends SparkSpec {
  import graft.sources.ObjectStore

  private def bindStub(): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[S3AStubFileSystem].getName)
    hc.set("fs.AbstractFileSystem.s3a.impl",
      classOf[S3AStubAbstractFileSystem].getName)
    // Hadoop's defaults pre-bind the s3a committer factory from
    // hadoop-aws; that jar is deliberately absent here (no egress), so
    // unbind it and let writes take the default FileOutputCommitter.
    // Production keeps the S3A factory (see README "Object stores").
    hc.set("mapreduce.outputcommitter.factory.scheme.s3a", "")
  }

  test("S8: fs.s3a.* production settings land in the session's Hadoop conf") {
    val settings = ObjectStore.s3aSettings(
      endpoint = Some("http://minio.local:9000"),
      region = Some("eu-central-1"),
      pathStyleAccess = true,
      connectionMaximum = 128)
    ObjectStore.configure(spark, settings)
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.endpoint") === "http://minio.local:9000")
    assert(hc.get("fs.s3a.endpoint.region") === "eu-central-1")
    assert(hc.get("fs.s3a.path.style.access") === "true")
    assert(hc.get("fs.s3a.connection.maximum") === "128")
    assert(hc.get("fs.s3a.committer.name") === "magic")
    assert(hc.get("fs.s3a.experimental.input.fadvise") === "random")
  }

  test("S8: CSV round-trips through s3a:// URIs (S1/S3 over the object store)") {
    bindStub()
    val tmp = Files.createTempDirectory("graft_s3a").toString
    val out = Tables.nation(spark, sf)
    CsvIO.writeCsv(out, s"s3a://test-bucket$tmp/nation")
    val back = CsvIO.readCsv(spark, s"s3a://test-bucket$tmp/nation")
    assert(back.count() === out.count())
    assert(back.columns.sorted.toSeq === out.columns.sorted.toSeq)
  }

  test("S8: parquet scan over s3a:// keeps pushdown and pruning") {
    bindStub()
    val tmp = Files.createTempDirectory("graft_s3a_pq").toString
    Tables.nation(spark, sf).write.mode("overwrite")
      .parquet(s"s3a://test-bucket$tmp/nation")
    val scan = spark.read.parquet(s"s3a://test-bucket$tmp/nation")
      .filter(col("n_regionkey") === 0).select("n_name")
    assert(scan.count() === 5)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(n_regionkey,0)"),
      s"filter not pushed to the s3a scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<n_name:string,n_regionkey:"),
      s"scan not pruned to the 2 needed columns:\n$plan")
  }

  test("S8: the stream sinks drain into an s3a:// outDir and read their rows back") {
    import spark.implicits._
    import graft.streaming.EventStream
    bindStub()
    val tmp = Files.createTempDirectory("graft_s3a_stream").toString
    Seq((1L, 10L), (2L, 20L), (1L, 5L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$tmp/in")
    def src() = spark.readStream
      .schema("k LONG, v LONG").parquet(s"$tmp/in")
    val appended = EventStream.runAppendToParquet(spark, src(),
      s"s3a://test-bucket$tmp/append", s"$tmp/ckpt_append")
    assert(appended.as[(Long, Long)].collect().sorted.toSeq ===
      Seq((1L, 5L), (1L, 10L), (2L, 20L)))
    val updated = EventStream.runUpdateToParquet(spark,
      src().groupBy($"k").agg(sum($"v").as("v")),
      s"s3a://test-bucket$tmp/update", s"$tmp/ckpt_update", keyCols = Seq("k"))
    assert(updated.as[(Long, Long)].collect().sorted.toSeq ===
      Seq((1L, 15L), (2L, 20L)))
  }
}

/** The user-facing config format: the reference's experiment JSON
  * files parse onto [[ExperimentSpec]] with missing-key defaults,
  * golden-tested against the reference's own checked-in experiments.
  */
class ExperimentJsonSpec extends SparkSpec {
  import graft.report.ExperimentSpec

  /** A file of the reference checkout's experiments, if present. */
  private def ref(name: String): Option[String] =
    Some(java.nio.file.Paths.get(
      s"/root/reference/test/experiments/$name"))
      .filter(Files.exists(_)).map(Files.readString)

  test("the reference's exampleExperiment.json parses field-for-field") {
    val found = ref("exampleExperiment.json")
    assume(found.isDefined, "reference not present")
    val json = found.get
    val spec = ExperimentSpec.fromJson(json)
    assert(spec.runs === 50 && spec.threads === 50 && spec.iterations === 3)
    assert(spec.outputGroups.size === 10)
    assert(spec.outputGroups.contains("zTenancy[vmID[iteration]]"))
    assert(spec.outputRawOfGroup ===
      Seq("zTenancy[vmID[iteration]]", "zTenancy[vmID]", "cpuType"))
    assert(spec.showAsSum === Set("newcontainer"))
    assert(spec.ignoreByGroup("zTenancy[vmID]") === Set("cpuType"))
    assert(spec.overlapFilter === Some("functionName"))
    assert(spec.combineSheets)
    assert(!spec.removeDuplicateContainers)
    // unknown / invocation-side keys are accepted and ignored
    assert(spec.experimentName === ExperimentSpec().experimentName)
    val (payloads, parent) = ExperimentSpec.payloadsFromJson(json)
    assert(payloads.map(_("name")) === Seq("Bob Amazing", "Joe", "Steve"))
    assert(parent === Map("name" -> "Jose"))
  }

  test("missing keys fall back to the reference defaults") {
    val spec = ExperimentSpec.fromJson("""{"runs": 7}""")
    assert(spec.runs === 7)
    assert(spec === ExperimentSpec(runs = 7))
  }

  test("compile-results tool: JSON run folder + experiment json -> report file") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_compile").toString
    CsvIO.writeJson(
      Tables.events(spark, sf)
        .withColumn("value_c", graft.core.Num.cents(col("value")))
        .select("event_id", "user_id", "event_type", "value_c"),
      s"$tmp/runs")
    Files.writeString(java.nio.file.Paths.get(s"$tmp/myExp.json"),
      """{"outputGroups": ["event_type"], "showAsSum": ["value_c"],
        |"invalidators": {"event_type": "error"}}""".stripMargin)
    val p = graft.runner.CompileResults.run(spark, s"$tmp/runs", s"$tmp/myExp.json")
    assert(p.endsWith("compiled-results-myExp.csv"))
    val parts = ReportWriter.split(
      Files.readString(java.nio.file.Paths.get(p)))
    assert(parts.exists(_.startsWith("Raw results")))
    assert(parts.exists(_.startsWith("Category event_type:")))
  }
}

class PayloadInheritanceSpec extends SparkSpec {
  import graft.runner.PayloadInheritance._
  test("J3: priority is payloads > folder > parent, list cycled to folder length") {
    val payloads = Seq(Map[String, Any]("a" -> 1, "b" -> 1), Map[String, Any]("a" -> 2))
    val folder = Seq(
      Map[String, Any]("b" -> 10, "c" -> 10), Map[String, Any]("c" -> 20),
      Map[String, Any]("a" -> 30, "d" -> 30))
    val parent = Map[String, Any]("c" -> 100, "e" -> 100)
    val r = prepare(payloads, folder, parent)
    assert(r.length === 3)
    // payload key beats folder key beats parent key
    assert(r(0) === Map("a" -> 1, "b" -> 1, "c" -> 10, "e" -> 100))
    assert(r(1) === Map("a" -> 2, "c" -> 20, "e" -> 100))
    // third entry: payload list cycled back to its head
    assert(r(2) === Map("a" -> 1, "b" -> 1, "d" -> 30, "c" -> 100, "e" -> 100))
  }
  test("J3: no folder leaves list length; parent still merges under") {
    val r = prepare(Seq(Map("a" -> 1)), Nil, Map("a" -> 9, "p" -> 9))
    assert(r === Seq(Map("a" -> 1, "p" -> 9)))
  }
  test("J3: empty payload list against a folder yields folder+parent") {
    val r = prepare(Nil, Seq(Map("f" -> 1)), Map("p" -> 2))
    assert(r === Seq(Map("f" -> 1, "p" -> 2)))
  }
}
