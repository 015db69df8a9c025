package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.core.CacheScope
import graft.ops.Mix

/** An entry that changes session state (a conf, a temp view) makes
  * the change on its own fork of the caller's session: the caller's
  * confs and views stay as they were while the entry runs and after
  * it, and the fork starts from the caller's runtime confs. */
class EntryIsolationSpec extends SparkSpec {
  import spark.implicits._

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def run(name: String) =
    CacheScope.withScope {
      val df = SparkEntry.queries(name)(spark, sf)
      (df, df.collect())
    }

  test("q_salted_join never turns broadcast off on the caller's session") {
    val before = spark.conf.get(threshold)
    val salted = Future(run("q_salted_join"))
    // sample the caller's conf for the whole time the entry runs
    val seen = Future {
      val s = scala.collection.mutable.Set(spark.conf.get(threshold))
      while (!salted.isCompleted) { s += spark.conf.get(threshold); Thread.sleep(1) }
      s.toSet
    }
    // a broadcast-planned frame built and run while the entry runs
    val docs = (0L until 60L).map { i =>
      (i, Seq("a", "b", "c")((i % 3).toInt), "w " * (i % 7 + 2).toInt + "w")
    }.toDF("doc_id", "source", "text")
    val mixBroadcasts = CacheScope.withScope {
      val df = Mix.mix(docs, "text", "doc_id", "source",
        Seq("a" -> 0.5, "b" -> 0.5), 60L, salt = "t")
      df.collect()
      BroadcastKeySpec.broadcastJoins(df.queryExecution.executedPlan).nonEmpty
    }
    val (_, rows) = Await.result(salted, 5.minutes)
    val values = Await.result(seen, 1.minute)
    assert(rows.nonEmpty)
    // on a shared-session conf window this reads Set(-1, 10485760b, ...)
    assert(values === Set(before),
      s"the caller's $threshold read $values while q_salted_join ran")
    assert(mixBroadcasts, "Mix.mix lost its broadcast hash join")
  }

  test("q_sales_priority and q_grouping_sets leave the caller's views alone") {
    Seq((1L, "mine")).toDF("id", "tag").createOrReplaceTempView("SalesData")
    try {
      assert(run("q_sales_priority")._2.nonEmpty)
      assert(run("q_grouping_sets")._2.nonEmpty)
      assert(run("q_sql_snapshot")._2.nonEmpty)
      assert(!spark.catalog.tableExists("snap_events_sql"),
        "q_sql_snapshot registered snap_events_sql on the caller's session")
      val view = spark.table("SalesData")
      assert(view.columns.toSeq === Seq("id", "tag"),
        "the caller's SalesData view was replaced")
      assert(view.as[(Long, String)].collect() === Array((1L, "mine")))
      assert(!spark.catalog.tableExists("ev_gs"),
        "q_grouping_sets registered ev_gs on the caller's session")
    } finally spark.catalog.dropTempView("SalesData")
  }

  test("a forked entry's frame keeps the caller's runtime confs") {
    val partitions = "spark.sql.shuffle.partitions"
    assert(spark.conf.get(partitions) === "4")
    Seq("q_salted_join", "q_runtime_filter", "q_sales_priority",
        "q_sales_date_range", "q_grouping_sets").foreach { name =>
      val (df, _) = run(name)
      assert(df.sparkSession.conf.get(partitions) === "4",
        s"$name's session lost the caller's $partitions")
    }
    // the fork's own conf stays on the fork
    val (salted, _) = run("q_salted_join")
    assert(salted.sparkSession.conf.get(threshold) === "-1")
    assert(spark.conf.get(threshold) !== "-1")
  }
}
