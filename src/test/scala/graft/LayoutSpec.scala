package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.core.Tables

/** Physical-layout levers for 100 TB (PLANS.md): bucketing removes
  * the shuffle from repeated co-located joins; date partitioning
  * prunes scans. Both asserted against the executed plan.
  */
class BucketingSpec extends SparkSpec {

  test("bucketed tables join without a shuffle exchange") {
    val n = 8
    // broadcast off on a fork only; the tables live in the shared
    // catalog, so they are still dropped at the end
    val f = Bridge.cloneSession(spark)
    f.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      f.sql("DROP TABLE IF EXISTS li_b")
      f.sql("DROP TABLE IF EXISTS ord_b")
      Tables.lineitem(f, sf)
        .select("l_orderkey", "l_quantity")
        .write.bucketBy(n, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("li_b")
      Tables.orders(f, sf)
        .select("o_orderkey", "o_totalprice")
        .write.bucketBy(n, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("ord_b")
      val joined = f.table("li_b")
        .join(f.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      assert(joined.count() > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
    } finally {
      f.sql("DROP TABLE IF EXISTS li_b")
      f.sql("DROP TABLE IF EXISTS ord_b")
    }
  }
}

class PartitionPruningSpec extends SparkSpec {

  test("date-partitioned layout prunes scanned partitions") {
    val dir = Files.createTempDirectory("graft_part").toString
    Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").mode("overwrite").parquet(s"$dir/events")
    val all = spark.read.parquet(s"$dir/events")
    val oneDay = all.filter(col("day") === lit("2024-01-05"))
    assert(oneDay.count() > 0)
    val scan = oneDay.queryExecution.executedPlan.toString
    // partition filter must reach the file index, not a post-scan Filter
    assert(scan.contains("PartitionFilters: [isnotnull(day"),
      s"no partition pruning in:\n$scan")
    val prunedFiles = oneDay.select(input_file_name()).distinct().count()
    val allFiles = all.select(input_file_name()).distinct().count()
    assert(prunedFiles < allFiles)
  }
}
