package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt):
  * the library session posture, with 4 shuffle partitions pinned so
  * specs exercise multi-partition plans whatever the fixture size. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.SessionTune.session(4)
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf
}

class EntrySpec extends SparkSpec {
  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
  test("every query has rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      // one cache scope per entry, as Bench and Verify run them; the
      // rows are drained, since count() lets Catalyst prune columns
      val n = graft.core.CacheScope.withScope(fn(spark, sf).collect().length)
      assert(n > 0, s"query $name returned 0 rows")
    }
  }
  test("every oracle key has a query") {
    // runs after every entry above, so each trained entry has
    // recorded its oracle: the two key sets must be equal
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os === qs,
      s"oracles without queries: ${os -- qs}; queries without oracles: ${qs -- os}")
  }
}
