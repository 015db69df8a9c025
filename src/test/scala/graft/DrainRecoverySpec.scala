package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Ivf, Similarity}
import graft.streaming.{CurationStream, DedupStream, EventStream,
  FunnelStream, VectorIndexStream}

/** Dropped-commit crash-replay for the STANDING-INDEX drains — the
  * same injection [[StreamRecoverySpec]] applies to the report and
  * file sinks, now driven through the drains whose exactly-once story
  * is the marker-last protocol: delete the newest `commits/<id>` (+
  * its `.crc` sidecar) from the checkpoint between two runs, so
  * Spark's own restart machinery re-executes the batch against
  * already-written output. The marker gate (`batch=N/_SUCCESS` probed
  * before any write) must short-circuit the redelivery, and the
  * standing index / decision log / manifest must equal the sequential
  * batch twin — no duplicated rows, no self-dedup, no torn reads.
  *
  * One scenario additionally lands the crash MID-COMPACTION: the
  * replay begins with the index in the worst swap state a crashed
  * [[graft.streaming.Drain]] compaction can leave (stage complete,
  * sources deleted, rename not done) and must roll it forward before
  * the next live batch reads the standing side.
  */
class DrainRecoverySpec extends SparkSpec with CheckpointCrash {
  import spark.implicits._

  private def commitIds(ckpt: String): Set[Long] =
    new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).map(_.getName.toLong).toSet

  // ---- vector-index ingestion ----------------------------------------------

  private def vec(seed: Int, plane: Int): Seq[Float] =
    Seq.tabulate(4)(d =>
      (if (plane == 0) 1.0f else -1.0f) * (1.0f + 0.01f * (seed * 4 + d)))

  test("VectorIndexStream: dropped commit replays the batch; index equals the batch twin, nothing doubled") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_recov_vec").toString
    val batches = Seq(
      (0L to 3L).map(i => (i, vec(i.toInt, 0))),
      (4L to 7L).map(i => (i, vec(i.toInt, 1))),
      (8L to 9L).map(i => (i, vec(i.toInt, i.toInt % 2))))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("vec_id", "embedding").coalesce(1)
        .write.parquet(s"$tmp/in/b$i.parquet")
    }
    EventStream.orderLanding(spark, s"$tmp/in/*.parquet", byName = true)
    val all = batches.flatten
    val centroids = Ivf.train(
      Similarity.prepared(all.toDF("vec_id", "embedding")), k = 2, iters = 2)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def run() = VectorIndexStream.runIngest(spark,
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in/*.parquet"),
      centroids, s"$tmp/index", s"$tmp/manifest", s"$tmp/ckpt")
    val first = run().collect().toSeq
    assert(dropNewestCommit(s"$tmp/ckpt") === 2L)
    val second = run().collect().toSeq
    // Spark really replayed batch 2 (its commit is back) and the
    // marker gate made the redelivery a no-op
    assert(commitIds(s"$tmp/ckpt").contains(2L))
    assert(second === first)
    // standing index: exactly one row per vector, assignment == twin
    val standing = spark.read.option("basePath", s"$tmp/index")
      .parquet(s"$tmp/index")
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster"))
    assert(standing.length === all.size)
    val twin = Ivf.assigned(
        Similarity.prepared(all.toDF("vec_id", "embedding")), centroids)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster"))
      .toMap
    assert(standing.toMap === twin)
  }

  test("VectorIndexStream: crash mid-compaction + dropped commit; replay rolls the swap forward and search serves the whole index") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_recov_vcc").toString
    val batches = Seq(
      (0L to 3L).map(i => (i, vec(i.toInt, 0))),
      (4L to 7L).map(i => (i, vec(i.toInt, 1))),
      (8L to 9L).map(i => (i, vec(i.toInt, i.toInt % 2))))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("vec_id", "embedding").coalesce(1)
        .write.parquet(s"$tmp/in/b$i.parquet")
    }
    EventStream.orderLanding(spark, s"$tmp/in/*.parquet", byName = true)
    val all = batches.flatten
    val centroids = Ivf.train(
      Similarity.prepared(all.toDF("vec_id", "embedding")), k = 2, iters = 2)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def run() = VectorIndexStream.runIngest(spark,
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in/*.parquet"),
      centroids, s"$tmp/index", s"$tmp/manifest", s"$tmp/ckpt")
    run()
    assert(dropNewestCommit(s"$tmp/ckpt") === 2L)
    // the crash also caught a compaction of the index mid-swap:
    // batches 0+1 staged complete, sources gone, rename undone
    val fs = new org.apache.hadoop.fs.Path(s"$tmp/index")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(s"$tmp/index/batch=0", s"$tmp/index/batch=1")
      .write.parquet(s"$tmp/index/.compact_1")
    Seq(0, 1).foreach(b =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/index/batch=$b"), true))
    run() // replay: ingestBatch's recovery runs BEFORE its marker gate
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/index/.compact_1")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/index/batch=1")))
    // the standing search sees every vector exactly once
    val seen = VectorIndexStream.searchStanding(spark, s"$tmp/index",
        s"$tmp/manifest",
        Seq((99L, vec(3, 0))).toDF("vec_id", "embedding"),
        centroids, k = 10, nProbe = 2)
      .collect().map(_.getAs[Long]("neighbor_id"))
    assert(seen.length === seen.distinct.length)
    assert(seen.toSet === all.map(_._1).toSet)
  }

  // ---- dedup admission ------------------------------------------------------

  test("DedupStream: dropped commit replays the batch; decisions and index equal the sequential twin") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_recov_adm").toString
    val tA = "a b c d e f g h"
    val tC = "p q r s t u v w"
    val batches = Seq(
      Seq((1L, tA), (2L, "x y z w v u t s")),
      Seq((3L, tA), (4L, tC)),
      Seq((5L, tC), (6L, "j k l m n o p q")))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$tmp/in/b$i.parquet")
    }
    EventStream.orderLanding(spark, s"$tmp/in/*.parquet", byName = true)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def run() = DedupStream.runAdmit(spark,
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in/*.parquet"),
      "text", "doc_id", s"$tmp/index", s"$tmp/decisions", s"$tmp/ckpt")
    def decMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(r.fieldIndex("id")) ->
        r.getLong(r.fieldIndex("admitted"))).toMap
    val first = decMap(run())
    assert(dropNewestCommit(s"$tmp/ckpt") === 2L)
    val second = decMap(run())
    assert(commitIds(s"$tmp/ckpt").contains(2L))
    assert(second === first)
    // decision log has exactly one row per doc (the replayed batch
    // overwrote its own partition, never appended)
    val decRows = spark.read.option("basePath", s"$tmp/decisions")
      .parquet(s"$tmp/decisions")
    assert(decRows.count() === batches.flatten.size.toLong)
    // sequential batch twin agrees decision-for-decision
    val seqDir = java.nio.file.Files.createTempDirectory("graft_recov_admtw").toString
    batches.zipWithIndex.foreach { case (rows, i) =>
      DedupStream.admitBatch(spark, rows.toDF("doc_id", "text"),
        "text", "doc_id", s"$seqDir/index", s"$seqDir/decisions",
        i.toLong, threshold = 0.5, maxDf = 1000L)
    }
    val want = decMap(spark.read.option("basePath", s"$seqDir/decisions")
      .parquet(s"$seqDir/decisions"))
    assert(second === want)
    // the standing index holds exactly the admitted docs, once each
    val indexed = spark.read.parquet(s"$tmp/index/bands")
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(indexed === second.filter(_._2 === 1L).keySet)
  }

  // ---- funnel (with a crash landing mid-compaction) -------------------------

  private def good(seed: Int): String =
    "the " + (1 to 60).map(i => s"w${seed}x$i").mkString(" ")

  test("FunnelStream: dropped commit + crashed compaction swap; replay rolls forward and the next live batch dedups against the whole index") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_recov_fun").toString
    val batches = Seq(
      Seq((1L, good(1), "en"), (2L, good(2), "en")),
      Seq((3L, good(3), "en")),
      Seq((4L, good(4), "en")))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text", "lang").coalesce(1)
        .write.parquet(s"$tmp/in/b$i.parquet")
    }
    EventStream.orderLanding(spark, s"$tmp/in/*.parquet", byName = true)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    def run() = FunnelStream.runFunnel(spark,
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in/*.parquet"),
      "text", "doc_id", "lang", s"$tmp/index", s"$tmp/funnel", s"$tmp/ckpt")
    run()
    assert(dropNewestCommit(s"$tmp/ckpt") === 2L)
    // the crash also interrupted a compaction of the fingerprint
    // index at its worst point: batches 0+1 staged complete
    // (.compact_1/_SUCCESS), sources already deleted, rename undone
    val fs = new org.apache.hadoop.fs.Path(s"$tmp/index")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(s"$tmp/index/batch=0", s"$tmp/index/batch=1")
      .write.parquet(s"$tmp/index/.compact_1")
    Seq(0, 1).foreach(b =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/index/batch=$b"), true))
    // a NEW batch lands too: a cross-batch duplicate of doc 1 (whose
    // fingerprint is inside the crashed stage) plus a fresh doc —
    // recovery must make the standing side whole BEFORE this batch's
    // anti-join, or the duplicate gets re-admitted
    Seq((5L, good(1), "en"), (6L, good(5), "en"))
      .toDF("doc_id", "text", "lang").coalesce(1)
      .write.parquet(s"$tmp/in/b3.parquet")
    val log = run()
    assert(commitIds(s"$tmp/ckpt") === Set(0L, 1L, 2L, 3L))
    // the crashed swap rolled forward: stage gone, batch=1 back
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/index/.compact_1")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/index/batch=1")))
    // cumulative stage-4 sums equal the batch twin over the union:
    // docs 1-4 unique, 5 a duplicate, 6 unique
    val uniqueDocs = log.filter(col("stage_idx") === 4)
      .agg(sum("n_docs")).head().getLong(0)
    assert(uniqueDocs === 5L)
    // and batch 3's own funnel shows exactly one survivor (doc 6)
    val b3 = log.filter(col("batch") === 3L && col("stage_idx") === 4)
      .select("n_docs").head().getLong(0)
    assert(b3 === 1L)
  }

  // ---- curation --------------------------------------------------------------

  test("CurationStream: dropped commit replays the batch; manifest and admitted set unchanged") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_recov_cur").toString
    val batches = Seq(
      Seq((1L, good(1), "en"), (2L, good(2), "en")),
      Seq((3L, good(1), "en"), (4L, good(4), "en")),
      Seq((5L, good(4), "en"), (6L, good(6), "en")))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text", "lang").coalesce(1)
        .write.parquet(s"$tmp/in/b$i.parquet")
    }
    EventStream.orderLanding(spark, s"$tmp/in/*.parquet", byName = true)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    def run() = CurationStream.runCurate(spark,
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in/*.parquet"),
      "text", "doc_id", "lang", s"$tmp/index", s"$tmp/admitted",
      s"$tmp/manifest", s"$tmp/ckpt", budget = 64L, nShards = 2)
    val first = run().collect().toSeq
    assert(dropNewestCommit(s"$tmp/ckpt") === 2L)
    val second = run().collect().toSeq
    assert(commitIds(s"$tmp/ckpt").contains(2L))
    assert(second === first)
    // admitted: one row per funnel survivor of the union, no doubles
    val admitted = spark.read.option("basePath", s"$tmp/admitted")
      .parquet(s"$tmp/admitted")
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(admitted.sorted === Seq(1L, 2L, 4L, 6L))
  }
}
