package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.ops.{Ols, SnapTable}
import graft.streaming.OlsStream

/** Streaming-OLS evidence: batch parity is exact across batches, and
  * Spark's REAL dropped-commit replay folds no batch's statistics
  * twice — the tagged-stats-snapshot contract, same axis as the other
  * standing drains.
  */
class OlsStreamSpec extends SparkSpec with CheckpointCrash {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("x", LongType), StructField("y", LongType)))

  private def land(tmp: String, rows: Seq[(Long, Long)], i: Int): Unit =
    rows.toDF("x", "y").coalesce(1).write.parquet(s"$tmp/in/b$i.parquet")

  private def src(tmp: String) = spark.readStream.schema(schema)
    .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in/*.parquet")

  test("streamed fit == batch fit, and dropped-commit replay folds nothing twice") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_olsstream").toString
    // y = 4 + 3x with noise spread over two batches
    val b0 = Seq((0L, 4L), (1L, 7L), (2L, 11L))
    val b1 = Seq((3L, 13L), (4L, 16L), (5L, 20L))
    land(tmp, b0, 0); land(tmp, b1, 1)
    graft.streaming.EventStream.orderLanding(
      spark, s"$tmp/in/*.parquet", byName = true)
    val m1 = OlsStream.runFit(spark, src(tmp), Seq("x"), "y",
      s"$tmp/stats", s"$tmp/ckpt")
    val batch = Ols.fit((b0 ++ b1).toDF("x", "y"), Seq("x"), "y")
    assert(m1.wPpm.toSeq === batch.wPpm.toSeq)
    assert(SnapTable.versions(spark, s"$tmp/stats") === Seq(1, 2))

    // crash: the newest checkpoint commit vanishes; the restart
    // replays that batch through foreachBatch with the SAME id —
    // the stats tag must make the fold a no-op
    dropNewestCommit(s"$tmp/ckpt")
    val m2 = OlsStream.runFit(spark, src(tmp), Seq("x"), "y",
      s"$tmp/stats", s"$tmp/ckpt")
    assert(m2.wPpm.toSeq === batch.wPpm.toSeq,
      "replayed batch double-folded its statistics")
    assert(SnapTable.versions(spark, s"$tmp/stats") === Seq(1, 2))

    // the drain continues: new data, new stats version, new model —
    // still exactly the batch fit over everything ingested
    val b2 = Seq((6L, 21L), (7L, 26L))
    land(tmp, b2, 2)
    val m3 = OlsStream.runFit(spark, src(tmp), Seq("x"), "y",
      s"$tmp/stats", s"$tmp/ckpt")
    val full = Ols.fit((b0 ++ b1 ++ b2).toDF("x", "y"), Seq("x"), "y")
    assert(m3.wPpm.toSeq === full.wPpm.toSeq)
    // time travel: the stats AS OF batch 0 re-solve to the b0-only fit
    val asOf1 = OlsStream.statsOf(spark, s"$tmp/stats", 1, Some(1)).solve()
    assert(asOf1.wPpm.toSeq ===
      Ols.fit(b0.toDF("x", "y"), Seq("x"), "y").wPpm.toSeq)
  }

  test("SuffStats additivity: stats(A ++ B) == stats(A) + stats(B)") {
    val a = Seq((1L, 2L, 10L), (2L, 5L, 20L)).toDF("x1", "x2", "y")
    val b = Seq((3L, 1L, 15L), (4L, 7L, 31L), (5L, 2L, 27L))
      .toDF("x1", "x2", "y")
    val whole = Ols.stats(a.unionByName(b), Seq("x1", "x2"), "y")
    val folded = Ols.stats(a, Seq("x1", "x2"), "y")
      .add(Ols.stats(b, Seq("x1", "x2"), "y"))
    assert(whole.m === folded.m)
    // and the additive identity: an empty batch folds as a no-op
    val empty = Ols.stats(a.filter(lit(false)), Seq("x1", "x2"), "y")
    assert(folded.add(empty).m === folded.m)
  }
}
