package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Funnel

/** Continuous-ingest filter funnel: the staged attrition report
  * ([[Funnel]]) as a Structured Streaming drain. Each micro-batch of
  * arriving documents:
  *
  *  1. computes its per-doc funnel flags (lang gate, Gopher keep,
  *     repetition) over ONLY itself — exactly the batch entry's one
  *     corpus pass, on the batch;
  *  2. resolves its stage-4 survivors first-wins WITHIN the batch,
  *     then against the standing fingerprint index (everything
  *     admitted by earlier batches);
  *  3. appends the survivors' fingerprints to the index and writes
  *     the batch's 5-row funnel — so cumulative per-stage sums over
  *     the drain equal the batch funnel of the concatenated corpus
  *     (stages 0-3 are per-doc flags, additive by construction;
  *     stage 4 keeps exactly one doc per distinct fingerprint
  *     globally, and same-fingerprint docs carry identical text, so
  *     both the doc and the token count agree with the batch twin
  *     regardless of which copy each side kept).
  *
  * Batches commit on the [[Drain]] protocol: the funnel partition is
  * the marker, written last; the standing side reads only committed
  * `batch < batchId` partitions. The survivor half of the cycle
  * (flags, standing anti-join, index append) is
  * [[FunnelStream.survivors]], shared with [[CurationStream]]. State
  * is one slim parquet table of fingerprints, no driver-side state
  * store; `compactEvery` bounds its partition count across an
  * unbounded drain.
  */
object FunnelStream {

  /** Drain `stream` (a streaming DataFrame of documents) through the
    * funnel with `Trigger.AvailableNow`, then return the accumulated
    * per-batch funnel log (batch, stage_idx, stage, n_docs,
    * n_tokens). Dirs must be on shared storage on a real cluster
    * (they may live on different schemes — each resolves its own
    * FileSystem). */
  def runFunnel(
      s: SparkSession, stream: DataFrame, textCol: String, idCol: String,
      langCol: String, indexDir: String, funnelDir: String,
      checkpointDir: String, compactEvery: Option[Int] = None,
      keepRecent: Int = 2): DataFrame = {
    Drain.foreachBatch(s, stream, checkpointDir, compactEvery.map(n =>
        Drain.Compaction(n, keepRecent, funnelDir,
          Seq(Drain.Table(indexDir, Seq("fp")))))) { (batch, batchId) =>
      funnelBatch(s, batch, textCol, idCol, langCol,
        indexDir, funnelDir, batchId)
    }
    Drain.readBack(s, funnelDir).orderBy(col("batch"), col("stage_idx"))
  }

  /** The shared half of a funnel/curation cycle, run inside the
    * caller's [[Drain.gate]]: per-batch flags, cross-batch survivors,
    * and the index append. Returns (flags, survivors), both cached in
    * the ambient [[graft.core.CacheScope]], AFTER appending the
    * survivors' fingerprints to `indexDir/batch=batchId`. */
  private[streaming] def survivors(
      s: SparkSession, batch: DataFrame, textCol: String, idCol: String,
      langCol: String, indexDir: String,
      batchId: Long): (DataFrame, DataFrame) = {
    val f = graft.core.CacheScope.cache(
      Funnel.flags(batch, textCol, idCol, langCol))
    val standing = Drain.readStanding(s, indexDir, batchId,
      f.select(col("fp")))
    // first-wins within the batch, then against everything admitted
    // before it (slim anti-join on the fingerprint only)
    val surv = graft.core.CacheScope.cache(
      Funnel.uniqueWithin(f).join(standing, Seq("fp"), "left_anti"))
    surv.select(col("fp"))
      .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
    (f, surv)
  }

  /** One funnel cycle — also directly usable by a batch caller that
    * manages its own batching. Idempotent per (dirs, batchId). */
  def funnelBatch(
      s: SparkSession, batch: DataFrame, textCol: String, idCol: String,
      langCol: String, indexDir: String, funnelDir: String,
      batchId: Long): Unit =
    Drain.gate(s, funnelDir, batchId, Seq(indexDir)) {
      val (f, surv) = survivors(s, batch, textCol, idCol, langCol,
        indexDir, batchId)
      Funnel.stageSummary(f, surv)
        .write.mode("overwrite").parquet(s"$funnelDir/batch=$batchId")
    }
}
