package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.report.Groups

/** Continuous report-section refresh — the streaming twin of the
  * reference's drop-box-fed batch report (St2 feeds S7/A1): runs land
  * continuously, and after each micro-batch the report's grouped
  * sections are re-derived ONLY for the groups whose runs changed.
  *
  * Shape per micro-batch (`foreachBatch` — the report upsert is a
  * batch-only sink pattern):
  *
  *   1. the batch's prepared rows append to a cumulative RUNS store,
  *      written `partitionBy(category)` under a `batch=<id>` prefix —
  *      per-batch overwrite makes retries idempotent (exactly-once
  *      runs store without a commit log);
  *   2. the batch's own categories (bounded: one row per group) name
  *      the AFFECTED sections;
  *   3. those sections re-derive from the runs store FILTERED to the
  *      affected categories — partition pruning makes the refresh
  *      read O(changed groups' runs), not the whole history;
  *   4. the section frame upserts into the report store via DYNAMIC
  *      partition overwrite: untouched groups keep their rows.
  *
  * At scale the refresh cost tracks the arrival pattern (hot groups
  * re-aggregate often but prune to their own partitions) while the
  * report stays continuously queryable — the property a full-report
  * rebuild per batch lacks. The final report equals the batch report
  * over the drained landing dir BY CONSTRUCTION (same `Groups.section`
  * over the same accumulated rows), which is what the entry's DuckDB
  * oracle checks.
  */
object ReportStream {

  /** Drain `stream` with AvailableNow, refreshing the report store
    * incrementally; returns the final report read back. `prepare` is
    * the per-row run-record normalization (filters/projections) —
    * applied per batch BEFORE the store, so dropped rows never land. */
  def runRefresh(
      s: SparkSession, stream: DataFrame, cfg: Groups.GroupConfig,
      prepare: DataFrame => DataFrame,
      runsDir: String, reportDir: String, checkpointDir: String,
      afterRunsWrite: Long => Unit = _ => (),
      compactEvery: Option[Int] = None, keepRecent: Int = 1): DataFrame = {
    require(keepRecent >= 1,
      "keepRecent < 1 would fold a batch the checkpoint may replay")
    val category = cfg.category
    // the runs store is its own marker table. Compaction folds every
    // batch at least keepRecent behind the newest committed one into
    // one category-partitioned prefix (keepRecent >= 1 keeps the
    // replay window out of the fold: an uncommitted batch only ever
    // overwrites its OWN prefix on restart), so listing cost per
    // refresh is O(keepRecent + 1), not O(drain age), and the
    // refresh's category pruning survives the fold.
    Drain.foreachBatch(s, stream, checkpointDir, compactEvery.map(n =>
        Drain.Compaction(n, keepRecent, runsDir,
          Seq(Drain.Table(runsDir, Seq(category), partitioned = true))))) {
      (batch, batchId) =>
        val rows = prepare(batch)
        // bounded collect: one value per group present in THIS batch
        val affected = rows.select(category).distinct().collect().map(_.get(0))
        if (affected.nonEmpty) {
          rows.write.mode("overwrite").partitionBy(category)
            .parquet(s"$runsDir/batch=$batchId")
          // failure-injection point for recovery specs: a crash HERE
          // leaves the runs store ahead of both the report and the
          // checkpoint — the worst inconsistency the two-write batch
          // can reach; replay must repair it
          afterRunsWrite(batchId)
          // NULL is a group too (the batch oracle's GROUP BY keeps
          // it), and `isin` never matches null — filter it explicitly
          val nonNull = affected.filter(_ != null).toSeq
          val catMatch =
            if (nonNull.length == affected.length)
              col(category).isin(nonNull: _*)
            else col(category).isin(nonNull: _*) || col(category).isNull
          // a crashed compaction swap may have deleted source batch
          // dirs without renaming the stage in — roll it forward (or
          // discard an uncommitted stage) before the standing read
          Drain.recover(s, runsDir)
          val changedRuns = s.read.option("basePath", runsDir)
            .parquet(s"$runsDir/batch=*")
            .filter(catMatch)
            .drop("batch")
          Groups.section(changedRuns, cfg)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(category)
            .parquet(reportDir)
        }
    }
    s.read.parquet(reportDir)
  }
}
