package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Continuous-ingest dedup: the incremental ADMISSION loop
  * ([[Dedup.admissionReport]]) as a Structured Streaming drain. Each
  * micro-batch of arriving documents:
  *
  *  1. shingles and signs ONLY itself (old text never re-read);
  *  2. reads the standing index — (id, band, bh) band rows plus
  *     (id, g, n_g) shingle-stat rows, parquet partitioned by the
  *     batch that admitted them;
  *  3. candidates via band equi-join, exact-Jaccard verify against
  *     the stored stats, admit/reject at `threshold`;
  *  4. writes the ADMITTED docs' band/shingle rows and its decision
  *     rows — so the next batch dedups against everything admitted
  *     before it.
  *
  * `foreachBatch` is the right sink here and not a compromise: the
  * loop both READS and APPENDS the index within one batch — a
  * self-referential maintenance cycle the declarative sinks cannot
  * express — and every step inside the batch is the same distributed
  * plan the batch entry (`q_dedup_admit`) runs.
  *
  * IDEMPOTENT under at-least-once redelivery: batches commit on the
  * [[Drain]] protocol with the decision partition as the marker, and
  * the standing side reads only `batch < batchId`, so a half-written
  * own batch never leaks into its own verify (a doc would otherwise
  * match its first-attempt rows at jaccard 1 and reject itself).
  *
  * Admission semantics are per-batch-vs-standing: duplicates WITHIN
  * one micro-batch are both admitted (intra-batch dedup composes
  * upstream via [[Dedup.minhashCandidates]] when the producer needs
  * it); pair `maxFilesPerTrigger` with [[EventStream.orderLanding]]
  * so arrival order is deterministic and the decision log is
  * replayable. The document-frequency cap uses the STANDING corpus's
  * statistics (an arriving batch cannot see global df), exactly like
  * the batch entry. State is the index itself — no driver-side state
  * store; every structure is a parquet table any engine can read.
  */
object DedupStream {

  /** Drain `stream` (a streaming DataFrame of documents) through the
    * admission loop with `Trigger.AvailableNow`, then return the
    * accumulated decision log. Dirs must be on shared storage on a
    * real cluster ([[Drain]]).
    * `compactEvery = Some(n)` runs [[compactIndex]] after every n-th
    * committed batch, keeping the standing side's partition count
    * bounded across an unbounded drain. */
  def runAdmit(
      s: SparkSession, stream: DataFrame, textCol: String, idCol: String,
      indexDir: String, decisionsDir: String, checkpointDir: String,
      threshold: Double = 0.5, maxDf: Long = 1000L,
      compactEvery: Option[Int] = None, keepRecent: Int = 2): DataFrame = {
    Drain.foreachBatch(s, stream, checkpointDir, compactEvery.map(n =>
        Drain.Compaction(n, keepRecent, decisionsDir,
          indexTables(indexDir)))) { (batch, batchId) =>
      admitBatch(s, batch, textCol, idCol, indexDir, decisionsDir,
        batchId, threshold, maxDf)
    }
    Drain.readBack(s, decisionsDir).drop("batch")
  }

  /** One admission cycle — also directly usable by a batch caller
    * that manages its own batching. Idempotent per (dirs, batchId):
    * a re-run of a committed batch is a no-op; a re-run of a
    * half-written batch overwrites it cleanly. */
  def admitBatch(
      s: SparkSession, batch: DataFrame, textCol: String, idCol: String,
      indexDir: String, decisionsDir: String, batchId: Long,
      threshold: Double, maxDf: Long): Unit =
    Drain.gate(s, decisionsDir, batchId, indexTables(indexDir).map(_.dir)) {
      // committed batch < batchId partitions by explicit path
      // (torn-write-safe, see Drain.readStanding)
      def standing(dir: String, like: DataFrame): DataFrame =
        Drain.readStanding(s, dir, batchId, like)

      val sh0 = Dedup.wordShingles(batch, textCol, idCol)
      val bandsDir = s"$indexDir/bands"
      val shinglesDir = s"$indexDir/shingles"
      // standing-side stats drive the df cap; a fresh index caps nothing
      val oldShAll = graft.core.CacheScope.cache(
        standing(shinglesDir, Dedup.shingleRowsWithCounts(sh0).limit(0)))
      val hot = oldShAll.groupBy(col("g"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf).select("g")
      val newSh = graft.core.CacheScope.cache(Dedup.shingleRowsWithCounts(
        sh0.join(hot, Seq("g"), "left_anti")))
      val newBands = graft.core.CacheScope.cache(Dedup.lshBands(
        Dedup.minhashSignatures(newSh.select("id", "g"))))
      val oldBands = standing(bandsDir, newBands.limit(0))

      val decisions = graft.core.CacheScope.cache(
        Dedup.admissionReport(
          batch.select(col(idCol).as("id")), newSh, newBands,
          oldShAll, oldBands, threshold)
        .withColumn("_batch_id", lit(batchId)))

      // per-batch partition dirs, overwrite mode: every write is
      // idempotent; the next batch sees these rows via batch < N+1
      val admitted = decisions.filter(col("admitted") === 1L).select("id")
      newBands.join(admitted, Seq("id"))
        .write.mode("overwrite").parquet(s"$bandsDir/batch=$batchId")
      newSh.join(admitted, Seq("id"))
        .write.mode("overwrite").parquet(s"$shinglesDir/batch=$batchId")
      decisions.write.mode("overwrite")
        .parquet(s"$decisionsDir/batch=$batchId")
    }

  // ---- index compaction ---------------------------------------------------

  /** Compact the standing index: every partition at or below
    * `maxCommitted - keepRecent` folds into one `batch=cutoff`
    * partition per table ([[Drain.compactCommitted]]), bands
    * clustered by (band, bh) and shingles by g. The most recent
    * `keepRecent` committed batches stay separate, a retention
    * watermark for inspecting or re-driving recent batches;
    * correctness never depends on it. The decision LOG is never
    * compacted: it is the output, not state the loop re-reads. Run
    * between drains or from a maintenance job; one compactor at a
    * time per index. Returns the cutoff if any table was rewritten. */
  def compactIndex(s: SparkSession, indexDir: String, decisionsDir: String,
      keepRecent: Int = 2): Option[Long] =
    Drain.compactCommitted(s, decisionsDir, indexTables(indexDir), keepRecent)

  private def indexTables(indexDir: String): Seq[Drain.Table] = Seq(
    Drain.Table(s"$indexDir/bands", Seq("band", "bh")),
    Drain.Table(s"$indexDir/shingles", Seq("g")))
}
