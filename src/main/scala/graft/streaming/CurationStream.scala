package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.ops.{Funnel, Pack}

/** Continuous curation: the full gate-dedup-pack chain as ONE
  * Structured-Streaming drain — arriving documents leave as
  * loader-ready pack manifests. Each micro-batch:
  *
  *  1. funnel flags over itself ([[Funnel.flags]]: lang gate, Gopher
  *     keep, repetition);
  *  2. stage-4 survivors — first-wins within the batch, then a slim
  *     anti-join against the standing fingerprint index (everything
  *     admitted by earlier batches);
  *  3. the admitted docs' context-pack layout WITHIN the batch
  *     ([[Pack.assignPacksOn]], md5-deterministic) — packs never span
  *     batches, so each batch's layout is final the moment it
  *     commits, exactly what a training loader tailing the manifest
  *     needs;
  *  4. appends: `index/batch=N` (survivor fingerprints),
  *     `admitted/batch=N` (per-doc pack assignment), and LAST the
  *     per-pack `manifest/batch=N` — its `_SUCCESS` is the batch's
  *     commit marker.
  *
  * Batches commit on the [[Drain]] protocol (the manifest is the
  * marker): a redelivered half-written batch replays cleanly and
  * never dedups against its own first attempt.
  */
object CurationStream {

  /** Drain `stream` through the curation chain with
    * `Trigger.AvailableNow`, then return the accumulated pack
    * manifest (batch, shard, pack_id, n_docs, pack_tokens,
    * first_doc). */
  def runCurate(
      s: SparkSession, stream: DataFrame, textCol: String, idCol: String,
      langCol: String, indexDir: String, admittedDir: String,
      manifestDir: String, checkpointDir: String,
      budget: Long = 512L, nShards: Int = 8,
      compactEvery: Option[Int] = None, keepRecent: Int = 2,
      evalDf: Option[DataFrame] = None,
      mixRatesPpm: Option[Seq[(String, Long)]] = None): DataFrame = {
    // the eval suite is FROZEN for the drain's lifetime: shingle it
    // once here and cache, instead of re-exploding it every batch
    val shE = evalDf.map(ev =>
      graft.ops.Decontaminate.evalShingles(ev, textCol, idCol).cache())
    // only the INDEX compacts — admitted/manifest are the output, not
    // state the loop re-reads
    try Drain.foreachBatch(s, stream, checkpointDir, compactEvery.map(n =>
        Drain.Compaction(n, keepRecent, manifestDir,
          Seq(Drain.Table(indexDir, Seq("fp")))))) { (batch, batchId) =>
      curateBatch(s, batch, textCol, idCol, langCol, indexDir,
        admittedDir, manifestDir, batchId, budget, nShards,
        evalDf, mixRatesPpm, evalShingles = shE)
    }
    finally shE.foreach(_.unpersist())
    Drain.readBack(s, manifestDir)
      .orderBy(col("batch"), col("shard"), col("pack_id"))
  }

  /** One curation cycle — also directly usable by a batch caller.
    * Idempotent per (dirs, batchId). With `evalDf` set, each batch is
    * DECONTAMINATED before the funnel: docs whose best 3-gram overlap
    * with the (static, broadcast-small) eval suite reaches 0.2 are
    * dropped — batch-local like the quality gates, no cross-batch
    * state, and the eval docs themselves (ratio 1.0 against their own
    * shingles) can never reach the manifest. With `mixRatesPpm` set,
    * the batch's `source` column keys the frozen rates (salt "mix"). */
  def curateBatch(
      s: SparkSession, batch: DataFrame, textCol: String, idCol: String,
      langCol: String, indexDir: String, admittedDir: String,
      manifestDir: String, batchId: Long, budget: Long,
      nShards: Int, evalDf: Option[DataFrame] = None,
      mixRatesPpm: Option[Seq[(String, Long)]] = None,
      evalShingles: Option[DataFrame] = None): Unit =
    Drain.gate(s, manifestDir, batchId, Seq(indexDir)) {
      // `evalShingles` (the drain's cached frame) wins over
      // re-shingling `evalDf` — a direct batch caller may pass either
      val shE = evalShingles.orElse(evalDf.map(ev =>
        graft.ops.Decontaminate.evalShingles(ev, textCol, idCol)))
      val gated = shE.fold(batch) { sh =>
        batch.join(
          graft.ops.Decontaminate.flaggedIdsPreShingled(batch, sh,
              textCol, idCol, n = 3, flagAt = 0.2)
            .withColumnRenamed("id", idCol),
          Seq(idCol), "left_anti")
      }
      // flags + cross-batch survivors + index append: the shared half
      val (_, surv) = FunnelStream.survivors(s, gated, textCol, idCol,
        langCol, indexDir, batchId)
      val packed = graft.core.CacheScope.cache(mixRatesPpm match {
        case None =>
          Pack.assignPacksOn(surv.select(col("id"), col("n_words")),
            "id", col("n_words"), budget, nShards)
        case Some(rates) =>
          // fixed-rate mixing/upsampling before packing: rates
          // are frozen offline, the batch applies them locally
          // (Mix.copiesAtRatesOn); copies pack on the composite
          // (doc, epoch) key exactly as the batch operator does
          // one source per id even if the batch redelivered the
          // same row twice (the funnel admits one survivor; a
          // plain join would multiply its copies)
          val srcOf = batch
            .select(col(idCol).as("id"), col("source"))
            .groupBy(col("id")).agg(min(col("source")).as("source"))
          val copies = graft.ops.Mix.copiesAtRatesOn(
            surv.select(col("id"), col("n_words").as("n_tokens"))
              .join(srcOf, Seq("id")),
            rates, "mix")
          Pack.assignPacksOn(
            copies.select(
              concat_ws("#", col("id"), col("epoch")).as("copy_id"),
              col("id").as("doc"), col("epoch"), col("n_tokens")),
            "copy_id", col("n_tokens"), budget, nShards)
      })
      val admitted = mixRatesPpm match {
        case None =>
          packed.select(col("id"), col("toks"), col("shard"),
            col("pack_id"))
        case Some(_) =>
          packed.select(col("doc").as("id"), col("epoch"),
            col("toks"), col("shard"), col("pack_id"))
      }
      admitted
        .write.mode("overwrite").parquet(s"$admittedDir/batch=$batchId")
      Pack.summarize(packed,
          if (mixRatesPpm.isDefined) "copy_id" else "id")
        .write.mode("overwrite").parquet(s"$manifestDir/batch=$batchId")
    }
}
