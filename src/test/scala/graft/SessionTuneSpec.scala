package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.core.{CacheScope, SessionTune}
import graft.streaming.{EventStream, StreamTune}

/** Pins the library-owned session posture: the test session comes
  * from the same factory as every runner and so carries the defaults
  * list (including the cached-plan re-partitioning conf every snapshot
  * entry's one-scan pre-aggregate depends on), and shuffle partitions
  * derive from input bytes through one clamp — never from the core
  * count; the plan text the driver renders and retains is cut at
  * [[SessionTune.MaxPlanText]] characters. */
class SessionTuneSpec extends SparkSpec {

  test("the factory-built test session carries every defaults entry") {
    SessionTune.defaults.foreach { case (k, v) =>
      assert(TestSpark.spark.conf.get(k) == v, s"conf $k")
    }
  }

  test("scaledPartitions derives from bytes with a floor of 2") {
    Seq(SessionTune.BatchTargetBytes, SessionTune.StreamTargetBytes).foreach { t =>
      assert(SessionTune.scaledPartitions(spark, 0L, t) == 2)
      assert(SessionTune.scaledPartitions(spark, 1L, t) == 2)
      assert(SessionTune.scaledPartitions(spark, 2 * t + 1, t) == 3) // ceil
      assert(SessionTune.scaledPartitions(spark, 10 * t, t) == 10)
      assert(SessionTune.scaledPartitions(spark, 10 * t - 1, t) == 10)
    }
    assert(SessionTune.BatchTargetBytes == (2L << 20))
    assert(SessionTune.StreamTargetBytes == (16L << 20))
  }

  test("scaledPartitions clamps at 4 x defaultParallelism") {
    val cap = 4 * spark.sparkContext.defaultParallelism
    Seq(SessionTune.BatchTargetBytes, SessionTune.StreamTargetBytes).foreach { t =>
      assert(SessionTune.scaledPartitions(spark, (cap + 1) * t, t) == cap)
      assert(SessionTune.scaledPartitions(spark, Long.MaxValue / 4, t) == cap)
    }
  }

  test("tuneForData sets shuffle partitions from the data dir") {
    val f = Bridge.cloneSession(spark)
    val n = SessionTune.tuneForData(f, sf)
    val bytes = SessionTune.dirBytes(f, sf)
    assert(bytes > 0L)
    assert(n == SessionTune.scaledPartitions(
      f, bytes, SessionTune.BatchTargetBytes))
    assert(f.conf.get("spark.sql.shuffle.partitions") == n.toString)
  }

  test("dirBytes reads 0 for a missing path or an empty glob") {
    assert(SessionTune.dirBytes(spark, "/nonexistent-graft-dir") == 0L)
    assert(SessionTune.dirBytes(spark, s"$sf/no-such-table*.parquet") == 0L)
  }

  test("dirBytes propagates a failing store's IOException") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.globfail.impl", classOf[GlobFailFileSystem].getName)
    val e = intercept[java.io.IOException] {
      SessionTune.dirBytes(spark, s"globfail://x$sf")
    }
    assert(e.getMessage.contains("listing refused"))
  }

  test("a stream's source bytes are the shared probe over its file source") {
    val stream = EventStream.read(spark, sf)
    val bytes = StreamTune.sourceBytes(spark, stream)
    assert(bytes > 0L)
    assert(bytes == SessionTune.dirBytes(spark, s"$sf/events*.parquet"))
  }

  /** The curation shape: `levels` scoped caches, each read twice by
    * the next level (a self-join), so every cached plan prints 4x
    * per level in a `formatted` description. */
  private def nestedCaches(f: SparkSession, levels: Int): DataFrame =
    (1 to levels).foldLeft(f.range(0, 64).toDF("id")) { (d, i) =>
      val c = CacheScope.cache(d.filter(col("id") % (i + 1) =!= 0L)
        .withColumn(s"x$i", col("id") * i))
      c.as("a").join(c.as("b"), col("a.id") === col("b.id"))
        .select(col("a.*"))
    }

  /** Lengths of the plan descriptions the driver renders (SQL
    * execution starts and AQE updates) while `body` runs, and of the
    * descriptions the SQL status store retains for its executions. */
  private def descriptions(f: SparkSession)(body: => Unit)
      : (Seq[Int], Seq[Int]) = {
    val rendered = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          rendered.add(s.physicalPlanDescription.length)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          rendered.add(u.physicalPlanDescription.length)
        case _ =>
      }
    }
    val store = f.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    Bridge.drainListenerBus(f)
    val before = store.executionsList().map(_.executionId).toSet
    f.sparkContext.addSparkListener(listener)
    try {
      body
      Bridge.drainListenerBus(f)
    } finally f.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val retained = store.executionsList()
      .filterNot(e => before.contains(e.executionId))
      .map(_.physicalPlanDescription.length)
    (rendered.asScala.toSeq, retained)
  }

  test("plan text is cut at MaxPlanText; unbounded it outgrows the cap") {
    // Spark's cut keeps MaxPlanText - 30 characters and appends
    // "... N more characters"
    val bound = SessionTune.MaxPlanText + 64
    val (rendered, retained) = descriptions(spark) {
      CacheScope.withScope(nestedCaches(spark, 5).collect())
    }
    assert(rendered.nonEmpty && retained.nonEmpty)
    assert(rendered.max <= bound, s"rendered ${rendered.max}")
    assert(retained.max <= bound, s"retained ${retained.max}")

    val unbounded = Bridge.cloneSession(spark)
    unbounded.conf.unset("spark.sql.maxPlanStringLength")
    val (full, _) = descriptions(unbounded) {
      CacheScope.withScope(nestedCaches(unbounded, 5).collect())
    }
    assert(full.max > SessionTune.MaxPlanText,
      s"the uncut chain renders only ${full.max} characters")
    info(s"largest description: ${rendered.max} cut, ${full.max} uncut; " +
      s"total ${rendered.sum} cut, ${full.sum} uncut")
  }
}
