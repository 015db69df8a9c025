package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops.SnapTable

/** Deletion-vector (merge-on-read position delete) contract: a delete
  * commits O(subject) bytes and rewrites nothing; every read path
  * anti-joins the vectors out; rewrites never resurrect; OPTIMIZE
  * materializes; vacuum completes physical erasure.
  */
class DeleteVectorSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  private def parquetsUnder(tbl: String): Set[String] = {
    val root = java.nio.file.Paths.get(tbl)
    val out = scala.collection.mutable.Set.empty[String]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".parquet"))
        out += root.relativize(p).toString
    }
    out.toSet
  }

  test("commitDelete: no data rewritten, tiny sidecar, reads exclude, history intact") {
    val tbl = fresh("graft_dv")
    val df = (1L to 1000L).map(i => (i, i % 10)).toDF("k", "m")
      .repartitionByRange(4, col("k"))
    SnapTable.commit(spark, df, tbl, "overwrite", statsCols = Seq("k"))
    val dataBytes = SnapTable.fileEntries(spark, tbl, 1)
      .flatMap(_.sizeBytes).sum
    val v2 = SnapTable.commitDelete(spark, tbl, "m = 3")
    assert(v2 === 2)
    // the delete rewrote NOTHING: same data files, one dv sidecar
    assert(SnapTable.files(spark, tbl, 2) ===
      SnapTable.files(spark, tbl, 1))
    val dvs = SnapTable.dvFiles(spark, tbl, 2)
    assert(dvs.size === 1)
    val fs = new org.apache.hadoop.fs.Path(tbl).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dvBytes = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(tbl, dvs.head)).getLen
    assert(dvBytes < dataBytes / 2,
      s"vector must be O(subject): $dvBytes vs table $dataBytes")
    // reads exclude the deleted rows; history still serves them
    assert(SnapTable.read(spark, tbl).count() === 900L)
    assert(SnapTable.read(spark, tbl).filter(col("m") === 3).count() === 0L)
    assert(SnapTable.read(spark, tbl, Some(1)).count() === 1000L)
    // stats on surviving rows stay exact
    assert(SnapTable.read(spark, tbl).agg(sum("k")).head().getLong(0) ===
      (1L to 1000L).filter(_ % 10 != 3).sum)
    // a selective read prunes files UNDER the vector anti-join
    val skip = SnapTable.read(spark, tbl).filter(col("k").between(1L, 500L))
    assert(SnapTable.scannedFiles(skip).size < 4)
    assert(skip.count() === (1L to 500L).count(_ % 10 != 3))
    // a second delete composes; a no-match delete is a no-op
    val v3 = SnapTable.commitDelete(spark, tbl, "m = 7")
    assert(v3 === 3 && SnapTable.read(spark, tbl).count() === 800L)
    assert(SnapTable.commitDelete(spark, tbl, "m = 3") === 3)
  }

  test("append after delete keeps vectors; optimizeSized never resurrects") {
    val tbl = fresh("graft_dv_rw")
    val df = (1L to 400L).map(i => (i, i % 4)).toDF("k", "m")
      .repartition(4)
    SnapTable.commit(spark, df, tbl, "overwrite")
    SnapTable.commitDelete(spark, tbl, "m = 1")
    assert(SnapTable.read(spark, tbl).count() === 300L)
    // an APPEND rides on the chain; vectors still apply to old files
    SnapTable.commit(spark,
      Seq((1001L, 9L)).toDF("k", "m"), tbl, "append")
    assert(SnapTable.read(spark, tbl).count() === 301L)
    assert(SnapTable.read(spark, tbl).filter(col("m") === 1).count() === 0L)
    // compaction reads its inputs THROUGH the vectors and carries
    // them for untouched files — deleted rows must never come back
    SnapTable.optimizeSized(spark, tbl, targetBytes = 1L << 20)
    assert(SnapTable.read(spark, tbl).count() === 301L)
    assert(SnapTable.read(spark, tbl).filter(col("m") === 1).count() === 0L)
  }

  test("materializeDeletes + vacuum: vectors cleared, physical erasure completes") {
    val tbl = fresh("graft_dv_mat")
    val df = (1L to 1000L).map(i => (i, i % 10)).toDF("k", "m")
      .repartitionByRange(4, col("k"))
    SnapTable.commit(spark, df, tbl, "overwrite", statsCols = Seq("k"))
    SnapTable.commitDelete(spark, tbl, "m = 3")
    val vM = SnapTable.materializeDeletes(spark, tbl,
      statsCols = Seq("k"))
    assert(SnapTable.dvFiles(spark, tbl, vM).isEmpty)
    assert(SnapTable.read(spark, tbl).count() === 900L)
    assert(SnapTable.read(spark, tbl).filter(col("m") === 3).count() === 0L)
    // stats survive materialization for untouched planning
    val rs = SnapTable.read(spark, tbl).filter(col("k").between(1L, 250L))
    val picked = SnapTable.scannedFiles(rs)
    assert(picked.nonEmpty &&
      picked.size < SnapTable.files(spark, tbl, vM).size)
    assert(rs.count() === (1L to 250L).count(_ % 10 != 3))
    // retention completes the erasure: pre-delete files AND the
    // vector sidecar are physically gone
    SnapTable.vacuum(spark, tbl, keep = 1)
    val live = SnapTable.files(spark, tbl, vM).toSet
    assert(parquetsUnder(tbl) === live,
      "vacuum must leave exactly the materialized snapshot's files")
  }

  test("partitioned table: delete by partition value, vectors apply across read paths") {
    val tbl = fresh("graft_dv_part")
    val df = (1L to 600L).map(i => (i, i % 3)).toDF("k", "p")
    SnapTable.commit(spark, df, tbl, "overwrite",
      statsCols = Seq("k"), partitionBy = Some("p"))
    // predicate over data AND partition column — the partitioned
    // read path reconstructs p, so the predicate sees it
    SnapTable.commitDelete(spark, tbl, "p = 2 AND k <= 300")
    val expect = (1L to 600L).filterNot(i => i % 3 == 2 && i <= 300)
    assert(SnapTable.read(spark, tbl).count() === expect.size.toLong)
    val rp = SnapTable.read(spark, tbl).filter(col("p") === 2L)
    assert(rp.count() === (1L to 600L).count(i => i % 3 == 2 && i > 300))
    // materialize keeps the layout partitioned and typed
    val vM = SnapTable.materializeDeletes(spark, tbl, statsCols = Seq("k"))
    assert(SnapTable.dvFiles(spark, tbl, vM).isEmpty)
    val r = SnapTable.read(spark, tbl)
    assert(r.schema("p").dataType === org.apache.spark.sql.types.LongType)
    assert(r.count() === expect.size.toLong &&
      r.agg(sum("k")).head().getLong(0) === expect.sum)
  }

  test("incremental read refuses across a delete; V2 connector refuses live vectors") {
    val tbl = fresh("graft_dv_inc")
    SnapTable.commit(spark,
      (1L to 100L).map(i => (i, i % 5)).toDF("k", "m"), tbl, "overwrite")
    SnapTable.commit(spark,
      Seq((101L, 0L)).toDF("k", "m"), tbl, "append")
    // append-only window still fine
    assert(SnapTable.readIncremental(spark, tbl, 1, 2)._2.count() === 1L)
    SnapTable.commitDelete(spark, tbl, "m = 2")
    val e = intercept[IllegalArgumentException] {
      SnapTable.readIncremental(spark, tbl, 1, 3)
    }
    assert(e.getMessage.contains("deletion vectors"))
    assert(SnapTable.hasDeletes(spark, tbl, 3))
    val e2 = intercept[IllegalArgumentException] {
      new graft.sources.snap.SnapV2Table(spark, tbl, 3)
    }
    assert(e2.getMessage.contains("deletion vectors"))
  }
}
