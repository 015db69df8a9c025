package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project, Repartition}

/** Parallelism guard for explode-heavy operators.
  *
  * A narrow local input (one parquet file → one or two scan splits)
  * would run a shingle/token explode nearly single-threaded, so those
  * operators widen the input to the cluster's parallelism first. But
  * widening must not be unconditional: a 100 TB scan already carries
  * orders of magnitude more partitions than cores, and a blanket
  * `repartition(defaultParallelism)` there would pay a full-corpus
  * text exchange AND down-partition it to core count — multi-GB
  * spilling partitions. Widen only inputs narrower than the target;
  * a well-partitioned scan passes through untouched.
  */
object Par {

  /** `df` repartitioned up to `defaultParallelism` when it is a
    * narrow scan-lineage plan; unchanged otherwise.
    *
    * Only scan-lineage plans — leaves (file scans, cached frames,
    * local/stream batches), filters, projections, and coalesce —
    * are considered at all. Anything that plans an exchange
    * (aggregates, joins, windows, shuffling repartitions) is
    * returned untouched on the LOGICAL plan inspection alone: its
    * output already carries `spark.sql.shuffle.partitions`
    * partitions (never narrow), and probing it via `Dataset.rdd`
    * under AQE would materialize its query stages at
    * plan-construction time — jobs whose results the rewritten plan
    * then re-executes. For a file scan, a local batch or a
    * projection of one, the `rdd.getNumPartitions` probe only builds
    * lineage (no job) and reports the split count. A cached leaf is
    * the exception: the probe builds the cache's RDD, and when the
    * cached plan has exchanges AQE runs their stages right then, at
    * plan-construction time. Row placement is the only thing that
    * changes, so operators built on this stay partitioning-invariant.
    *
    * Caller contract: a frame that was JOINED before the explode
    * (broadcast joins keep the streamed side's narrow partitioning
    * but still plan an exchange, so the join is skipped here) should
    * be cached first — the cache scan is a leaf the probe accepts,
    * and such frames feed multiple branches anyway (see
    * qCurationFull's corpus/clean). */
  def widen(df: DataFrame): DataFrame =
    if (!scanLineage(df.queryExecution.optimizedPlan)) df
    else {
      val p = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < p) df.repartition(p) else df
    }

  /** True when every node preserves the leaf's narrow partitioning
    * without an exchange: leaves, per-row operators, and coalesce
    * (shuffle-free by definition — and the narrowing widen exists to
    * undo). */
  private def scanLineage(plan: LogicalPlan): Boolean =
    !plan.exists {
      case _: LeafNode | _: Project | _: Filter => false
      case r: Repartition => r.shuffle
      case _ => true
    }
}
