package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import graft.core.CacheScope

/** The micro-batch drain: how every streaming operator starts, gates,
  * compacts and reads back its batches. The reference's drop box
  * (s3pull.py) is pulled in batches; here a stream drains under
  * `Trigger.AvailableNow` and stops ([[await]]).
  *
  * A standing drain (funnel, curation, dedup admission, vector-index
  * ingest, report refresh) keeps its state in parquet tables
  * partitioned `batch=N`, and its exactly-once story is one
  * committed-batch protocol:
  *
  *  - every write of batch N lands in its own `batch=N` partition in
  *    overwrite mode, so a redelivered batch replays cleanly;
  *  - the MARKER table's partition is written last: its `_SUCCESS`
  *    commits the batch ([[committed]]), and [[gate]] turns a
  *    committed redelivery into a no-op;
  *  - standing reads see only `batch < N` ([[readStanding]]), so a
  *    torn own-batch write never reaches a redelivery (a doc would
  *    otherwise match its own first attempt and reject itself);
  *  - every `every` committed batches the state tables fold
  *    `batch <= cutoff` into one `batch=cutoff` partition
  *    ([[Compaction]], cutoff = newest committed − `keepRecent`),
  *    so listing and standing scans stay flat in drain age.
  *
  * Compaction is crash-safe by roll-forward staging: rows stage into
  * a `.compact_<cutoff>` dot-dir readers ignore, the committer's
  * `_SUCCESS` (written last) marks the stage complete, and only then
  * are sources dropped and the stage renamed in; [[recover]] (run by
  * the gate before any standing read) finishes a crashed swap or
  * discards an aborted stage. One compactor at a time per table.
  * Compaction never changes answers: a redelivered batch either
  * committed (the gate skips it) or did not, so its id exceeds every
  * committed id, hence the cutoff, and its `batch < id` read sees the
  * compacted partition whole. Each path resolves its own FileSystem,
  * so marker and state tables may live on different schemes; on a
  * cluster they must be on storage every executor can reach.
  */
object Drain {

  /** Start `stream` under `Trigger.AvailableNow` with its checkpoint
    * and output mode, `sink` naming where batches go, and wait for
    * the drain to finish. `streamShuffle` sizes the stream's shuffle
    * partitions from its source bytes at start
    * ([[StreamTune.withStreamShuffle]]). */
  def await(stream: DataFrame, checkpointDir: String,
      mode: OutputMode = OutputMode.Append, streamShuffle: Boolean = false)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val w = sink(stream.writeStream.outputMode(mode)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow()))
    val q =
      if (streamShuffle) StreamTune.withStreamShuffle(stream)(w.start())
      else w.start()
    q.awaitTermination()
  }

  /** Drain `stream` through `cycle`, one call per micro-batch, and
    * compact on `compaction`'s cadence after each. */
  def foreachBatch(s: SparkSession, stream: DataFrame, checkpointDir: String,
      compaction: Option[Compaction] = None)(
      cycle: (DataFrame, Long) => Unit): Unit =
    await(stream, checkpointDir)(_.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        cycle(batch, batchId)
        compaction.foreach(_.after(s, batchId))
    })

  /** The per-batch marker gate: roll any crashed compaction of
    * `stateDirs` back or forward, then run `cycle` in its own
    * [[CacheScope]] unless `markerDir`'s `batch=batchId` already
    * committed. `cycle` must write that marker partition last. */
  def gate(s: SparkSession, markerDir: String, batchId: Long,
      stateDirs: Seq[String])(cycle: => Unit): Unit =
    CacheScope.withScope {
      stateDirs.foreach(recover(s, _))
      if (!isCommitted(s, markerDir, batchId)) cycle
    }

  /** Committed batch ids under `markerDir`: the `batch=N` partitions
    * whose `_SUCCESS` marker exists. */
  def committed(s: SparkSession, markerDir: String): Seq[Long] = {
    val dir = new Path(markerDir)
    val mfs = fs(s, dir)
    batchIds(mfs, dir).filter(b => mfs.exists(marker(dir, b)))
  }

  private def isCommitted(s: SparkSession, markerDir: String,
      batchId: Long): Boolean = {
    val dir = new Path(markerDir)
    fs(s, dir).exists(marker(dir, batchId))
  }

  /** A drain's output read back: the marker table whole, with the
    * `batch` partition column as a long. */
  def readBack(s: SparkSession, markerDir: String): DataFrame = {
    val dir = new Path(markerDir)
    require(fs(s, dir).exists(dir), s"no batches written under $markerDir")
    s.read.option("basePath", markerDir).parquet(markerDir)
      // the partition column infers as int; the log's contract is long
      .withColumn("batch", col("batch").cast("long"))
  }

  /** The standing side of a batch-partitioned table, torn-write-safe:
    * reads ONLY the explicit `batch=K` partition dirs with
    * `K < batchId`. A crash mid-write can tear at most the current
    * batch's own partition (foreachBatch is sequential, so every
    * earlier id committed), and that partition is excluded by id
    * here, where a whole-directory `read.parquet(dir)` would trip
    * schema inference on its `_temporary`-only contents and wedge
    * every redelivery. Returns `like.limit(0)` when no earlier
    * partition exists (first batch / fresh table). */
  def readStanding(s: SparkSession, dir: String, batchId: Long,
      like: DataFrame): DataFrame = {
    val path = new Path(dir)
    val parts = batchIds(fs(s, path), path).filter(_ < batchId).sorted
      .map(b => new Path(path, s"batch=$b").toString)
    if (parts.isEmpty) like.limit(0)
    else s.read.option("basePath", dir).parquet(parts: _*).drop("batch")
  }

  // ---- compaction ---------------------------------------------------------

  /** One state table to compact: its rows cluster on `cols` (so the
    * compacted row groups carry the min/max stats standing-side joins
    * skip on), or, when `partitioned`, keep a hive `partitionBy(cols)`
    * layout inside the compacted batch so partition pruning survives
    * compaction. */
  final case class Table(dir: String, cols: Seq[String],
      partitioned: Boolean = false)

  /** In-drain compaction cadence: after each batch whose id completes
    * an `every` window and whose marker committed, compact `tables`
    * against `markerDir`'s committed batches, keeping the newest
    * `keepRecent` as separate partitions. */
  final case class Compaction(every: Int, keepRecent: Int,
      markerDir: String, tables: Seq[Table]) {
    require(every >= 1, "compactEvery must be >= 1")

    private[Drain] def after(s: SparkSession, batchId: Long): Unit =
      if ((batchId + 1) % every == 0 && isCommitted(s, markerDir, batchId))
        compactCommitted(s, markerDir, tables, keepRecent)
  }

  /** Compact one marker-committed state: `cutoff = newest committed
    * − keepRecent`. Returns the cutoff if any table rewrote. */
  def compactCommitted(s: SparkSession, markerDir: String,
      tables: Seq[Table], keepRecent: Int): Option[Long] = {
    require(keepRecent >= 0, "keepRecent must be >= 0")
    val done = committed(s, markerDir)
    if (done.isEmpty) return None
    val cutoff = done.max - keepRecent
    val did = tables.map(compactTable(s, _, cutoff))
    if (did.exists(identity)) Some(cutoff) else None
  }

  /** Merge `batch <= cutoff` partitions of one table into
    * `batch=cutoff`; true if a rewrite happened. */
  private def compactTable(s: SparkSession, t: Table, cutoff: Long): Boolean = {
    recover(s, t.dir)
    val dir = new Path(t.dir)
    val tfs = fs(s, dir)
    // already compact (or empty)
    if (batchIds(tfs, dir).count(_ <= cutoff) < 2) return false
    val stage = stagePath(dir, cutoff)
    tfs.delete(stage, true) // a no-_SUCCESS leftover is garbage
    val rows = s.read.option("basePath", t.dir).parquet(t.dir)
      .filter(col("batch") <= cutoff)
      .drop("batch")
    val w =
      if (t.partitioned) rows.write.partitionBy(t.cols: _*)
      else rows.repartition(t.cols.map(col): _*)
        .sortWithinPartitions(t.cols.map(col): _*).write
    w.parquet(stage.toString) // committer writes _SUCCESS last
    completeSwap(tfs, dir, cutoff)
    true
  }

  /** Roll forward (or discard) a crashed compaction on one table
    * dir: a stage with `_SUCCESS` holds every row of its sources, so
    * finish the swap; without it the stage is an aborted write, so
    * drop it. */
  def recover(s: SparkSession, dir: String): Unit = {
    val path = new Path(dir)
    val tfs = fs(s, path)
    stages(tfs, path).foreach { stage =>
      if (tfs.exists(new Path(stage, "_SUCCESS")))
        completeSwap(tfs, path, stage.getName.stripPrefix(".compact_").toLong)
      else tfs.delete(stage, true)
    }
  }

  /** The swap half: drop source partitions, rename the stage in.
    * Idempotent: every step checks before acting. */
  private def completeSwap(tfs: FileSystem, dir: Path, cutoff: Long): Unit = {
    batchIds(tfs, dir).filter(_ <= cutoff)
      .foreach(b => tfs.delete(new Path(dir, s"batch=$b"), true))
    val stage = stagePath(dir, cutoff)
    if (tfs.exists(stage)) {
      val ok = tfs.rename(stage, new Path(dir, s"batch=$cutoff"))
      require(ok, s"compaction swap failed renaming $stage")
    }
  }

  /** `batch=N` partition ids under `dir`, existence only. */
  private[streaming] def batchIds(tfs: FileSystem, dir: Path): Seq[Long] =
    subdirs(tfs, dir).map(_.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong)

  /** Compaction stage dirs (`.compact_<cutoff>`) under `dir`. */
  private[streaming] def stages(tfs: FileSystem, dir: Path): Seq[Path] =
    subdirs(tfs, dir).filter(_.getName.startsWith(".compact_"))

  private def subdirs(tfs: FileSystem, dir: Path): Seq[Path] =
    if (!tfs.exists(dir)) Seq.empty
    else tfs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath)

  private def stagePath(dir: Path, cutoff: Long): Path =
    new Path(dir, s".compact_$cutoff")

  private def marker(dir: Path, batchId: Long): Path =
    new Path(dir, s"batch=$batchId/_SUCCESS")

  private def fs(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)
}
