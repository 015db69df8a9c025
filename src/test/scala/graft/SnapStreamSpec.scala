package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.ops.SnapTable
import graft.streaming.SnapStream

/** Exactly-once evidence for the snapshot-table ingestion drain:
  * Spark's REAL dropped-commit replay (delete `commits/<newest>` from
  * the checkpoint between two drains) must not append the replayed
  * batch's rows a second time — the tagged-manifest idempotence is
  * what holds, not foreachBatch luck.
  */
class SnapStreamSpec extends SparkSpec with CheckpointCrash {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType)))

  private def land(tmp: String, rows: Seq[(Long, Long)], i: Int): Unit =
    rows.toDF("k", "v").coalesce(1).write.parquet(s"$tmp/in/b$i.parquet")

  private def src(tmp: String) = spark.readStream.schema(schema)
    .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in/*.parquet")

  test("dropped-commit replay appends nothing: the tag already committed") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_snapstream").toString
    val tbl = s"$tmp/tbl"
    land(tmp, Seq((1L, 10L), (2L, 20L)), 0)
    land(tmp, Seq((3L, 30L)), 1)
    graft.streaming.EventStream.orderLanding(
      spark, s"$tmp/in/*.parquet", byName = true)
    SnapStream.runIngest(spark, src(tmp), tbl, s"$tmp/ckpt")
    assert(SnapTable.versions(spark, tbl) === Seq(1, 2))
    assert(SnapTable.read(spark, tbl).count() === 3L)

    // crash: batch 1's checkpoint commit vanishes; the restart replays
    // it through foreachBatch with the SAME batch id
    dropNewestCommit(s"$tmp/ckpt")
    SnapStream.runIngest(spark, src(tmp), tbl, s"$tmp/ckpt")
    assert(SnapTable.versions(spark, tbl) === Seq(1, 2),
      "replayed batch minted a new snapshot version")
    assert(SnapTable.read(spark, tbl).agg(sum("v")).head().getLong(0) === 60L,
      "replayed batch double-appended its rows")

    // and the drain continues past the repair: new data, new version
    land(tmp, Seq((4L, 40L)), 2)
    SnapStream.runIngest(spark, src(tmp), tbl, s"$tmp/ckpt")
    assert(SnapTable.versions(spark, tbl) === Seq(1, 2, 3))
    assert(SnapTable.read(spark, tbl).count() === 4L)
    // time travel over the live feed: the first snapshot is still
    // exactly batch 0
    assert(SnapTable.read(spark, tbl, Some(1)).count() === 2L)
  }

  test("commitIfAbsent: redelivery of a tag returns the existing version") {
    val tbl = java.nio.file.Files
      .createTempDirectory("graft_tagged").toString + "/t"
    val v1 = SnapTable.commitIfAbsent(spark,
      Seq((1L, 1L)).toDF("k", "v"), tbl, "append", "batch-0")
    val v2 = SnapTable.commitIfAbsent(spark,
      Seq((9L, 9L)).toDF("k", "v"), tbl, "append", "batch-0")
    assert((v1, v2) === ((1, 1)))
    assert(SnapTable.read(spark, tbl).count() === 1L)
    // a NEW tag commits normally and carries the old files forward
    val v3 = SnapTable.commitIfAbsent(spark,
      Seq((2L, 2L)).toDF("k", "v"), tbl, "append", "batch-1")
    assert(v3 === 2)
    assert(SnapTable.read(spark, tbl).count() === 2L)
  }
}
