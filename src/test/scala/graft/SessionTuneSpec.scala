package graft

import org.apache.spark.sql.graftbridge.Bridge
import graft.core.SessionTune
import graft.streaming.{EventStream, StreamTune}

/** Pins the library-owned session posture: the test session comes
  * from the same factory as every runner and so carries the defaults
  * list (including the cached-plan re-partitioning conf every snapshot
  * entry's one-scan pre-aggregate depends on), and shuffle partitions
  * derive from input bytes through one clamp — never from the core
  * count. */
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
}
