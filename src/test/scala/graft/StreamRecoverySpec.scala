package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.report.Groups
import graft.streaming.{EventStream, ReportStream}

/** Failure injection for the streaming sinks' exactly-once claims —
  * converts "idempotent by construction" into adversarial evidence:
  *
  *   - [[ReportStream.runRefresh]] does TWO non-atomic writes per
  *     batch (runs store, then section upsert). A crash between them
  *     leaves the runs store ahead of both the report and the
  *     checkpoint; restart must replay the batch and repair.
  *   - [[EventStream.runUpdateToParquet]] appends `_batch_id`-stamped
  *     rows; a crash after the append but before checkpoint commit
  *     replays the batch, and `latestPerKey` must collapse the
  *     duplicate appends.
  *   - [[EventStream.runAppendToParquet]] relies on the built-in file
  *     sink's own commit log to skip an already-written batch on
  *     replay.
  *
  * The replay injections delete the newest `commits/<id>` file from
  * the checkpoint — exactly the on-disk state after a crash that hit
  * between the sink write and the commit-log write.
  */
class StreamRecoverySpec extends SparkSpec with CheckpointCrash {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_type", StringType), StructField("value_c", LongType),
    StructField("value_sum_c", LongType), StructField("user_id", LongType)))

  private val cfg = Groups.GroupConfig(
    category = "event_type",
    showAsSum = Set("value_sum_c"),
    showAsList = Set("user_id"))

  private def land(tmp: String, rows: Seq[(String, Long, Long, Long)],
      i: Int): Unit =
    rows.toDF("event_type", "value_c", "value_sum_c", "user_id")
      .coalesce(1).write.parquet(s"$tmp/in/b$i.parquet")

  private def src(tmp: String, s: SparkSession = spark) =
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in/*.parquet")

  test("ReportStream: crash between runs write and section upsert, restart repairs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_recov_rs").toString
    val b0 = Seq(("A", 100L, 100L, 1L), ("A", 300L, 300L, 2L), ("B", 50L, 50L, 1L))
    val b1 = Seq(("B", 150L, 150L, 3L), ("B", 250L, 250L, 1L))
    land(tmp, b0, 0); land(tmp, b1, 1)
    graft.streaming.EventStream.orderLanding(
      spark, s"$tmp/in/*.parquet", byName = true)
    // first attempt dies AFTER batch 1's runs write, BEFORE its upsert
    val boom = intercept[StreamingQueryException] {
      ReportStream.runRefresh(spark, src(tmp), cfg, identity,
        s"$tmp/runs", s"$tmp/report", s"$tmp/ckpt",
        afterRunsWrite = id =>
          if (id == 1L) throw new RuntimeException("injected crash"))
    }
    assert(boom.getMessage.contains("injected crash") ||
      Option(boom.getCause).exists(_.getMessage.contains("injected crash")))
    // the inconsistent window is real: batch 1's runs landed, but its
    // group B section still reflects batch 0 only
    assert(new java.io.File(s"$tmp/runs/batch=1").exists())
    val staleB = spark.read.parquet(s"$tmp/report")
      .filter($"event_type" === "B").select("uses").as[Long].head()
    assert(staleB === 1L, "crash point must precede the section upsert")
    // restart from the checkpoint: batch 1 replays (same id), runs
    // store overwrites itself, section re-derives
    val got = ReportStream.runRefresh(spark, src(tmp), cfg, identity,
        s"$tmp/runs", s"$tmp/report", s"$tmp/ckpt")
      .select("event_type", "uses", "avg_value_c", "sum_value_sum_c",
        "user_id_list")
      .orderBy("event_type").collect().toSeq
    val want = Groups.section(
        (b0 ++ b1).toDF("event_type", "value_c", "value_sum_c", "user_id"), cfg)
      .select("event_type", "uses", "avg_value_c", "sum_value_sum_c",
        "user_id_list")
      .orderBy("event_type").collect().toSeq
    assert(got === want)
    // replay overwrote, not duplicated: the runs store holds exactly
    // the input rows
    val runs = spark.read.option("basePath", s"$tmp/runs")
      .parquet(s"$tmp/runs/batch=*")
    assert(runs.count() === (b0 ++ b1).length.toLong)
  }

  test("ReportStream: dropped commit replays the whole batch; both writes are idempotent") {
    // the OTHER crash point: after the section upsert but before the
    // checkpoint commit — the full foreachBatch body re-runs on
    // restart; the runs overwrite and the dynamic-partition upsert
    // must both land on their own prior output without duplication
    val tmp = java.nio.file.Files.createTempDirectory("graft_recov_rs2").toString
    val b0 = Seq(("A", 100L, 100L, 1L), ("B", 50L, 50L, 2L))
    land(tmp, b0, 0)
    def run() = ReportStream.runRefresh(spark, src(tmp), cfg, identity,
        s"$tmp/runs", s"$tmp/report", s"$tmp/ckpt")
      .select("event_type", "uses", "avg_value_c", "sum_value_sum_c",
        "user_id_list")
      .orderBy("event_type").collect().toSeq
    val first = run()
    assert(dropNewestCommit(s"$tmp/ckpt") === 0L)
    val second = run()
    assert(second === first)
    val runs = spark.read.option("basePath", s"$tmp/runs")
      .parquet(s"$tmp/runs/batch=*")
    assert(runs.count() === b0.length.toLong)
  }

  test("runUpdateToParquet: dropped commit replays the batch; latestPerKey collapses the duplicate append") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_recov_upd").toString
    val b0 = Seq(("A", 1L, 1L, 1L), ("B", 2L, 2L, 2L), ("A", 3L, 3L, 3L))
    land(tmp, b0, 0)
    def agg = src(tmp).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value_c").as("v"))
    def run() = EventStream.runUpdateToParquet(spark, agg,
      s"$tmp/out", s"$tmp/ckpt", Seq("event_type"))
    val first = run().orderBy("event_type").collect().toSeq
    // crash after sink append, before checkpoint commit → replay
    assert(dropNewestCommit(s"$tmp/ckpt") === 0L)
    val second = run().orderBy("event_type").collect().toSeq
    assert(second === first)
    // the raw log REALLY holds the duplicate append (the failure was
    // injected); only the compaction view hides it
    val raw = spark.read.parquet(s"$tmp/out")
    assert(raw.count() === 2L * first.length,
      "replayed batch should have appended a second copy")
    assert(second.map(_.getString(0)) === Seq("A", "B"))
  }

  test("dropped-commit replay holds under RocksDBStateStoreProvider (failure x provider composition)") {
    // the stateful-agg recovery scenario re-run with state OFF-HEAP:
    // the replayed batch must restore its state from RocksDB
    // snapshots/changelogs and still produce the identical upsert
    // the provider is set on a fork; the stream runs there
    val f = Bridge.cloneSession(spark)
    f.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
    val tmp = java.nio.file.Files.createTempDirectory("graft_recov_rdb").toString
    val b0 = Seq(("A", 1L, 1L, 1L), ("B", 2L, 2L, 2L), ("A", 3L, 3L, 3L))
    land(tmp, b0, 0)
    def agg = src(tmp, f).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value_c").as("v"))
    def run() = EventStream.runUpdateToParquet(f, agg,
      s"$tmp/out", s"$tmp/ckpt", Seq("event_type"))
    val first = run().orderBy("event_type").collect().toSeq
    assert(dropNewestCommit(s"$tmp/ckpt") === 0L)
    val second = run().orderBy("event_type").collect().toSeq
    assert(second === first)
    val raw = spark.read.parquet(s"$tmp/out")
    assert(raw.count() === 2L * first.length,
      "replayed batch should have appended a second copy")
    // the checkpoint really used RocksDB (its working dirs exist)
    val sst = new java.io.File(s"$tmp/ckpt/state/0/0")
    assert(sst.exists() && sst.listFiles().nonEmpty)
  }

  test("runAppendToParquet: dropped commit replays the batch; the file sink skips it") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_recov_app").toString
    val b0 = Seq(("A", 1L, 1L, 1L), ("B", 2L, 2L, 2L))
    land(tmp, b0, 0)
    def proj = src(tmp).select($"event_type", ($"value_c" * 2).as("v2"))
    def run() = EventStream.runAppendToParquet(spark, proj,
      s"$tmp/out", s"$tmp/ckpt")
    val first = run().orderBy("event_type").collect().toSeq
    assert(first.length === 2)
    assert(dropNewestCommit(s"$tmp/ckpt") === 0L)
    val second = run().orderBy("event_type").collect().toSeq
    // exactly-once through the sink's _spark_metadata log: replayed
    // files exist on disk but are not registered, so the read-back
    // (which honors the log) is unchanged
    assert(second === first)
    assert(new java.io.File(s"$tmp/out/_spark_metadata").exists())
  }
}
