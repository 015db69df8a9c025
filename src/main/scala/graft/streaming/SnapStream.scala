package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.SnapTable

/** Continuous ingestion INTO a snapshot-versioned table
  * ([[graft.ops.SnapTable]]): every micro-batch lands as one APPEND
  * snapshot committed idempotently under its batch id
  * ([[SnapTable.commitIfAbsent]]). Exactly-once falls out of the
  * manifest protocol alone: a crash before the manifest rename leaves
  * invisible staged files no reader lists; a Spark replay of an
  * already-committed batch finds its tag and appends nothing.
  * Readers meanwhile get snapshot isolation and time travel over the
  * live feed — a mid-drain reader keeps the version it opened.
  *
  * Scale: each batch's data files write distributed; the commit adds
  * one manifest of O(batch's files) lines plus a `#base:` pointer —
  * drain-age-INDEPENDENT commit bytes. The remaining age-linear costs
  * (the tag scan's miss path and the reader's chain walk) are bounded
  * by composing [[SnapTable.vacuum]] INTO the drain via
  * `vacuumEvery`/`keep`: every `vacuumEvery` batches the pre-horizon
  * manifests retire behind a checkpoint, holding version count — and
  * with it per-batch commit cost — flat (measured: PLANS.md "Round 15:
  * snapshot drain-age study").
  * The one contract is RETENTION MUST COVER THE REPLAY HORIZON: a tag
  * is idempotent only while its manifest lives; vacuuming past a
  * batch that Spark could still replay re-opens its tag
  * (`SnapTableProps` pins this boundary). Keeping more versions than
  * the checkpoint's uncommitted window is always sufficient — Spark's
  * AvailableNow/foreachBatch replay window is the NEWEST batch, so
  * any `keep >= 2` holds it with margin. The vacuum runs INSIDE the
  * sequential foreachBatch loop (never concurrent with this drain's
  * own committer), and [[SnapTable.vacuum]]'s head+1 grace keeps it
  * safe even next to an out-of-band writer.
  */
object SnapStream {

  /** Drain everything available from `stream` into `table` as
    * tagged append snapshots, one per micro-batch (empty batches are
    * skipped — deterministically, so a replayed empty batch skips
    * again). `vacuumEvery > 0` composes retention GC into the drain:
    * after every `vacuumEvery`-th commit, keep the last `keep`
    * versions. `statsCols` makes the streaming-landed table
    * SKIP-PLANNABLE from birth: each batch's commit records its
    * fresh files' bounds into the manifest (one footer pass over the
    * batch's own files — O(batch), never O(table)), so
    * a filtered [[SnapTable.read]] plans selective reads over the
    * live feed without a single query-time footer probe.
    * `partitionBy` stages each batch Hive-layout, so the same read
    * prunes partitions too. The per-commit tag-miss scan is bounded
    * at 64 versions (otherwise one header read per live version, the
    * one age-linear commit cost left when retention keeps long
    * history): Spark's replay window is the newest uncommitted batch,
    * so 64 is miles of margin. */
  def runIngest(s: SparkSession, stream: DataFrame, table: String,
      ckpt: String, vacuumEvery: Int = 0, keep: Int = 0,
      statsCols: Seq[String] = Nil,
      partitionBy: Option[String] = None): Unit = {
    require(vacuumEvery == 0 || keep >= 2,
      "in-drain vacuum must keep at least 2 versions " +
        "(retention must cover the streaming replay horizon)")
    Drain.foreachBatch(s, stream, ckpt) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val v = SnapTable.commitIfAbsent(s, batch, table, "append",
          s"batch-$batchId", statsCols, partitionBy, tagScanDepth = 64)
        if (vacuumEvery > 0 && v % vacuumEvery == 0)
          SnapTable.vacuum(s, table, keep)
      }
    }
  }
}
