package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.ops.SnapTable
import graft.sources.snap.SnapSource

/** DataSourceV2 connector contract: `spark.sql` over a snapshot
  * table plans through the manifest (partition + stats pruning with
  * ZERO query-time footer/listing IO), the partition column comes
  * back TYPED, and version/timestamp travel are read options.
  */
class SnapSqlSpec extends SparkSpec {
  import spark.implicits._

  private def freshTbl(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  test("snap source: SQL over a partitioned snapshot, pushdown prunes from the manifest") {
    val tbl = freshTbl("graft_snapsql")
    // range-cluster ids so each task covers an id slice; partitionBy
    // then splits per grp — per-file id bounds stay TIGHT, so both
    // partition pruning AND manifest-stats pruning can engage
    val df = (1L to 2000L).map(i => (i, i % 5, s"u$i"))
      .toDF("id", "grp", "nm")
      .repartitionByRange(4, col("id"))
    SnapTable.commit(spark, df, tbl, "overwrite",
      statsCols = Seq("id"), partitionBy = Some("grp"))

    val v2 = spark.read.format("snap").load(tbl)
    // typed partition column, reconstructed from the manifest paths
    assert(v2.schema("grp").dataType === LongType)
    v2.createOrReplaceTempView("snap_sql_t")
    val q = spark.sql(
      """SELECT grp, count(*) AS n, sum(id) AS s
        |FROM snap_sql_t
        |WHERE grp = 3 AND id BETWEEN 100 AND 300
        |GROUP BY grp""".stripMargin)
    val row = q.head()
    val expect = (100L to 300L).filter(_ % 5 == 3)
    assert(row.getLong(1) === expect.size.toLong)
    assert(row.getLong(2) === expect.sum)

    // BOTH prunings engaged: partition pruning keeps grp=3's 4 files,
    // manifest id-bounds keep only the slice intersecting [100,300]
    val admitted = SnapTable.scannedFiles(q).size
    val total = SnapTable.files(spark, tbl, 1).size
    assert(total === 20, s"expected 20 manifest entries, saw $total")
    assert(admitted < 4 && admitted >= 1,
      s"partition+stats pruning did not engage: $admitted of $total")
    // and the filter reached the V2 parquet scan as partition + data
    // pushdown (no post-scan partition filtering)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("PushedFilters: [IsNotNull(id)"))
  }

  test("snap source: CREATE TABLE USING snap serves plain SQL") {
    val tbl = freshTbl("graft_snapct")
    SnapTable.commit(spark,
      (1L to 50L).map(i => (i, i * 2)).toDF("k", "v"),
      tbl, "overwrite", statsCols = Seq("k"))
    spark.sql("DROP TABLE IF EXISTS snap_ct")
    spark.sql(s"CREATE TABLE snap_ct USING snap OPTIONS (path '$tbl')")
    try {
      val n = spark.sql(
        "SELECT count(*) AS c FROM snap_ct WHERE k <= 10").head().getLong(0)
      assert(n === 10L)
    } finally spark.sql("DROP TABLE IF EXISTS snap_ct")
  }

  test("snap source: versionAsOf and timestampAsOf read options travel") {
    val tbl = freshTbl("graft_snaptravel")
    SnapTable.commit(spark, Seq((1L, 10L)).toDF("k", "v"), tbl, "overwrite")
    val t1 = System.currentTimeMillis()
    Thread.sleep(15)
    SnapTable.commit(spark, Seq((2L, 20L)).toDF("k", "v"), tbl, "append")
    assert(SnapSource.load(spark, tbl, Some(1)).count() === 1L)
    assert(SnapSource.load(spark, tbl).count() === 2L)
    val byTs = spark.read.format("snap")
      .option("timestampAsOf", t1.toString).load(tbl)
    assert(byTs.count() === 1L)
  }

  test("snap source: INSERT INTO / OVERWRITE route through the commit protocol") {
    val tbl = freshTbl("graft_snapins")
    SnapTable.commit(spark,
      Seq((1L, 10L)).toDF("k", "v"), tbl, "overwrite")
    SnapTable.setCheck(spark, tbl, "v >= 0")
    spark.sql("DROP TABLE IF EXISTS snap_w")
    spark.sql(s"CREATE TABLE snap_w USING snap OPTIONS (path '$tbl')")
    try {
      spark.sql("INSERT INTO snap_w VALUES (2, 20)")
      // the INSERT became an APPEND snapshot: history intact
      assert(SnapTable.versions(spark, tbl) === Seq(1, 2))
      assert(SnapTable.read(spark, tbl).count() === 2L)
      assert(SnapTable.read(spark, tbl, Some(1)).count() === 1L)
      // a violating INSERT is refused by the standing CHECK and
      // publishes NOTHING
      val e = intercept[Exception] {
        spark.sql("INSERT INTO snap_w VALUES (3, -5)")
      }
      assert(e.getMessage.contains("CHECK") ||
        Option(e.getCause).exists(_.getMessage.contains("CHECK")))
      assert(SnapTable.versions(spark, tbl) === Seq(1, 2))
      // INSERT OVERWRITE = overwrite snapshot, old version readable
      spark.sql("INSERT OVERWRITE snap_w VALUES (9, 90)")
      assert(SnapTable.read(spark, tbl).count() === 1L)
      assert(SnapTable.read(spark, tbl, Some(2)).count() === 2L)
      // a version-pinned handle refuses writes — appending "to the
      // past" would silently target the current head
      spark.sql("DROP TABLE IF EXISTS snap_wp")
      spark.sql(s"CREATE TABLE snap_wp USING snap " +
        s"OPTIONS (path '$tbl', versionAsOf '1')")
      val e2 = intercept[Exception] {
        spark.sql("INSERT INTO snap_wp VALUES (7, 70)")
      }
      def mentionsPinned(t: Throwable): Boolean =
        t != null && (t.getMessage.contains("pinned") ||
          mentionsPinned(t.getCause))
      assert(mentionsPinned(e2))
    } finally {
      spark.sql("DROP TABLE IF EXISTS snap_w")
      spark.sql("DROP TABLE IF EXISTS snap_wp")
    }
  }

  test("snap catalog: native VERSION AS OF / TIMESTAMP AS OF syntax resolves by path") {
    spark.conf.set("spark.sql.catalog.snapshots",
      "graft.sources.snap.SnapCatalog")
    val tbl = freshTbl("graft_snapcat")
    SnapTable.commit(spark, Seq((1L, 10L)).toDF("k", "v"), tbl, "overwrite")
    val t1 = System.currentTimeMillis()
    Thread.sleep(15)
    SnapTable.commit(spark, Seq((2L, 20L)).toDF("k", "v"), tbl, "append")
    assert(spark.sql(s"SELECT count(*) AS c FROM snapshots.`$tbl`")
      .head().getLong(0) === 2L)
    assert(spark.sql(
        s"SELECT count(*) AS c FROM snapshots.`$tbl` VERSION AS OF 1")
      .head().getLong(0) === 1L)
    assert(spark.sql(s"SELECT count(*) AS c FROM snapshots.`$tbl` " +
        s"TIMESTAMP AS OF timestamp_millis(${t1}L)")
      .head().getLong(0) === 1L)
    // writes commit through the protocol from the catalog path too
    spark.sql(s"INSERT INTO snapshots.`$tbl` VALUES (3, 30)")
    assert(SnapTable.versions(spark, tbl) === Seq(1, 2, 3))
    assert(spark.sql(s"SELECT sum(v) AS s FROM snapshots.`$tbl`")
      .head().getLong(0) === 60L)
  }

  test("snap source: mergeSchema option serves a schema-evolved snapshot through SQL") {
    val tbl = freshTbl("graft_snapevo")
    SnapTable.commit(spark,
      (1L to 10L).map(i => (i, i * 2)).toDF("k", "v"), tbl, "overwrite")
    SnapTable.commit(spark,
      Seq((11L, 22L, "late")).toDF("k", "v", "w"), tbl, "append")
    val df = spark.read.format("snap")
      .option("mergeSchema", "true").load(tbl)
    df.createOrReplaceTempView("snap_evo")
    val r = spark.sql(
      "SELECT count(*) AS n, count(w) AS nw FROM snap_evo").head()
    // early files' absent column reads as null, not as an error
    assert(r.getLong(0) === 11L && r.getLong(1) === 1L)
  }

  test("snap source: unpartitioned snapshot, stats pruning via WHERE range") {
    val tbl = freshTbl("graft_snapflat")
    val df = (1L to 1000L).map(i => (i, s"d$i")).toDF("id", "d")
      .repartitionByRange(8, col("id"))
    SnapTable.commit(spark, df, tbl, "overwrite", statsCols = Seq("id"))
    spark.read.format("snap").load(tbl).createOrReplaceTempView("snap_flat")
    val q = spark.sql(
      "SELECT sum(id) AS s FROM snap_flat WHERE id BETWEEN 10 AND 120")
    assert(q.head().getLong(0) === (10L to 120L).sum)
    val admitted = SnapTable.scannedFiles(q).size
    val total = SnapTable.files(spark, tbl, 1).size
    assert(total === 8 && admitted < 8,
      s"range-clustered layout must prune: $admitted of $total")
  }

  test("snap source: resolved tables stay bounded; an evicted one re-resolves") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val tbl = freshTbl("graft_snaplru")
    (1 to SnapSource.MaxTables + 1).foreach { i =>
      SnapTable.commit(spark, Seq((i.toLong, i * 10L)).toDF("k", "v"), tbl,
        if (i == 1) "overwrite" else "append")
    }
    val vs = SnapTable.versions(spark, tbl)
    assert(vs.size === SnapSource.MaxTables + 1)
    def at(v: Int) = SnapSource.resolve(spark, new CaseInsensitiveStringMap(
      Map("path" -> tbl, "versionAsOf" -> v.toString).asJava))
    val first = at(vs.head)
    assert(at(vs.head) eq first, "one resolution per key while cached")
    val rows = SnapSource.load(spark, tbl, Some(vs.head)).collect().toSet
    vs.tail.foreach(at)
    assert(SnapSource.cachedTables === SnapSource.MaxTables)
    val again = at(vs.head)
    assert(again ne first, "the least recently used table was evicted")
    assert(SnapSource.load(spark, tbl, Some(vs.head)).collect().toSet === rows)
    assert(rows === Set(Row(1L, 10L)))
  }
}
