package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge
import graft.queries.{JoinQueries, MiscQueries}

/** The entries that require an optimization in their own plan check
  * it with a tree predicate, never with plan text: each predicate
  * holds on its entry's plan and fails on the same query planned on a
  * fork with that optimization switched off. */
class PlanCheckSpec extends SparkSpec {

  private def plan(df: DataFrame) = df.queryExecution.executedPlan

  private def off(conf: String) = {
    val f = Bridge.cloneSession(spark)
    f.conf.set(conf, "false")
    f
  }

  test("runtime bloom filter: seen in q_runtime_filter, absent when disabled") {
    val on = JoinQueries.qRuntimeFilter(spark, sf)
    assert(JoinQueries.hasRuntimeBloomFilter(plan(on)))
    // the entry's own fork (its thresholds), with the filter off
    val f = Bridge.cloneSession(on.sparkSession)
    f.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    val without = JoinQueries.runtimeFilterJoin(f, sf)
    assert(!JoinQueries.hasRuntimeBloomFilter(plan(without)))
    assert(without.collect().toSet === on.collect().toSet)
  }

  test("dynamic partition pruning: seen in q_partition_prune, absent when disabled") {
    val on = MiscQueries.qPartitionPrune(spark, sf)
    assert(MiscQueries.hasDynamicPruning(plan(on)))
    val without = MiscQueries.partitionPruneJoin(
      off("spark.sql.optimizer.dynamicPartitionPruning.enabled"), sf)
    assert(!MiscQueries.hasDynamicPruning(plan(without)))
    assert(without.collect().toSet === on.collect().toSet)
  }

  test("ORC filter pushdown: seen in q_orc_roundtrip, absent when disabled") {
    val on = MiscQueries.qOrcRoundtrip(spark, sf)
    assert(MiscQueries.orcFilterPushed(plan(on)))
    val without = MiscQueries.orcRoundtripScan(
      off("spark.sql.orc.filterPushdown"), sf)
    assert(!MiscQueries.orcFilterPushed(plan(without)))
    assert(without.collect().toSet === on.collect().toSet)
  }

  test("the predicates also see the optimization in an executed plan") {
    val df = MiscQueries.qPartitionPrune(spark, sf)
    df.collect()
    assert(MiscQueries.hasDynamicPruning(plan(df)))
    val rf = JoinQueries.qRuntimeFilter(spark, sf)
    rf.collect()
    assert(JoinQueries.hasRuntimeBloomFilter(plan(rf)))
  }
}
