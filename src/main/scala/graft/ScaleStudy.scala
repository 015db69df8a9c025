package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-depth study (`runMain graft.ScaleStudy [outDir]`): times the
  * heavy operator family one scale factor up from the bench record,
  * and traces the ANN recall-vs-cost frontier — the two evidence gaps
  * a 100 TB claim has at sf0.1 (the floors say the PLANS hold at the
  * recorded scale; this shows how they MOVE with 10x data).
  *
  * The 10x corpus is built by replicating the sf0.1 tables with
  * offset ids. Document text replicates VERBATIM — deliberately: every
  * doc gains 9 exact copies, which is the candidate-generation WORST
  * CASE for the dedup family (every minhash band of every doc
  * collides; components span replicas), so the timings below are
  * stress readings, not typical ones. Embedding vectors get a small
  * deterministic per-replica, per-dimension perturbation (hash-seeded,
  * no RNG) so ANN neighborhoods stay non-degenerate while remaining
  * exactly reproducible.
  *
  * The EVENTS side ([[EventsFamily]]) replicates `events`, `orders`
  * and `lineitem` with offset entity ids (10x users / customers /
  * orders, each keeping its original per-entity series) and each
  * events replica TIME-SHIFTED past the previous one — 10x the
  * timeline at the ORIGINAL density. That keeps the interval-overlap
  * family's true pair count linear in the replica count (densifying
  * one window 10x would square it by construction and measure the
  * generator, not the plan) while stressing every shuffle, window
  * and state machine with 10x rows.
  *
  * Output: one JSON line per reading —
  * `{"study":"sf1","query":...,"sec":...}`,
  * `{"study":"ann","method":...,"param":...,"recall":...,"sec":...}`
  * and `{"study":"overlap","corpus":...,"plan":...,"n":...,"sec":...}`
  * (the J1 binned-vs-naive crossover) — the table PLANS.md records.
  */
object ScaleStudy {

  val HeavyFamily: Seq[String] = Seq(
    "q_exact_dedup", "q_minhash_dedup", "q_ngram_jaccard", "q_simhash_pairs",
    "q_dedup_clusters", "q_dedup_keeplist", "q_substring_dedup",
    "q_decontaminate_bloom", "q_importance", "q_mix", "q_pack_bpe50k",
    "q_bpe_bytelevel", "q_token_ids", "q_pack_ids", "q_curation_e2e",
    "q_ann_topk", "q_ann_lsh", "q_ann_lsh_multiprobe", "q_ann_ivf",
    "q_embed_neardup_lsh",
    "q_perplexity", "q_curriculum", "q_semdedup", "q_chunk_ids",
    "q_source_drift", "q_datacard",
    "q_gopher_quality", "q_filter_funnel", "q_budget_select",
    "q_selection_e2e", "q_c4_filter",
    "q_corpus_diff", "q_dedup_weights", "q_funnel_stream",
    "q_curate_stream",
    "q_quality_classifier", "q_centroid_audit", "q_ann_recall",
    "q_detokenize", "q_weighted_sample", "q_epoch_order",
    "q_pack_nospan", "q_curate_decon_stream", "q_curate_full_stream",
    "q_ann_stream",
    // round 10: the replicated corpus is line-dedup's worst case
    // (every line gains 9 verbatim copies); the scrub and media arms
    // are scan-shape; the composed ANN entry carries both quantizers
    "q_line_dedup", "q_pii_scrub", "q_media_frames", "q_ann_ivfpq_rerank")

  /** The report/events family — everything backed by `events`,
    * `orders` or `lineitem`: the reference's one hard join (J1
    * overlap), the e2e report pipeline, sessionization (batch +
    * stateful streaming), windowing, SCD2, gap-fill, tenancy, and
    * the OLAP breadth entries. */
  val EventsFamily: Seq[String] = Seq(
    "q_e2e_report", "q_tenancy", "q_overlap", "q_overlap_all",
    "q_sessionize", "q_sessionize_stream", "q_stream_window",
    "q_gap_fill", "q_scd2", "q_rolling_window", "q_outlier_events",
    "q_rfm", "q_copurchase", "q_cohort_retention",
    // round 14: the warehouse-maintenance wave (events/lineitem-backed)
    "q_zorder", "q_backfill", "q_compact_files", "q_time_travel",
    "q_snapshot_diff", "q_snapshot_vacuum", "q_snapshot_optimize",
    "q_incremental_mv", "q_targeted_delete", "q_runtime_filter",
    "q_unpivot", "q_orc_roundtrip", "q_stream_snapshot")

  /** The sales/TLQ family — the star-schema entries over
    * `lineitem`/`orders`/`customer` plus the verbatim-copied product
    * and geography dims (round 11: the last bench family without an
    * sf1 reading). Fact tables are 10x, dims fixed — the broadcast
    * joins keep their build side while the probe side scales. */
  val SalesFamily: Seq[String] = Seq(
    "q_sales_transform", "q_sales_report", "q_sales_priority",
    "q_sales_date_range", "q_parts_supplier", "q_join_star",
    "q_join_semi_anti")

  /** Replicate documents + embeddings `times`x with offset ids into
    * `outDir` (skipped if already built). Doc ids offset by a round
    * 10^7 per replica so modulo-derived synthetic roles (eval slices,
    * sources) keep their per-replica proportions. */
  def buildScaled(s: SparkSession, srcDir: String, outDir: String,
      times: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def missing(t: String) =
      !fs.exists(new org.apache.hadoop.fs.Path(s"$outDir/$t.parquet"))
    val reps = explode(sequence(lit(0), lit(times - 1))).as("r")
    // per-group sentinel written LAST: its existence implies that
    // group's whole build (a run killed mid-build re-builds instead
    // of running the study against a half-written corpus)
    if (missing("documents")) {
      val docs = graft.core.Tables.documents(s, srcDir)
      val emb = graft.core.Tables.embeddings(s, srcDir)
      // deterministic per-(replica, id, dim) jitter in [-3e-3, 3e-3]:
      // keeps replicated vectors near their original (realistic cluster
      // structure) without making neighborhoods degenerate ties
      emb.select(col("*"), reps)
        .withColumn("embedding", expr(
          """transform(embedding, (x, i) ->
            |  CAST(x + (pmod(hash(vec_id, i, r), 7) - 3) * 0.001D AS FLOAT))"""
            .stripMargin))
        .withColumn("vec_id", col("vec_id") + col("r") * 10000000L)
        .drop("r")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
      docs.select(col("*"), reps)
        .withColumn("doc_id", col("doc_id") + col("r") * 10000000L)
        .drop("r")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    }
    // events group (sentinel: events.parquet, written last). Entity
    // ids offset per replica; events time-shift one full span + 1h
    // per replica — constant density over a 10x timeline.
    if (missing("events")) {
      graft.core.Tables.orders(s, srcDir).select(col("*"), reps)
        .withColumn("o_orderkey", col("o_orderkey") + col("r") * 10000000L)
        .withColumn("o_custkey", col("o_custkey") + col("r") * 10000000L)
        .drop("r")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
      graft.core.Tables.lineitem(s, srcDir).select(col("*"), reps)
        .withColumn("l_orderkey", col("l_orderkey") + col("r") * 10000000L)
        .drop("r")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
      val ev = graft.core.Tables.events(s, srcDir)
      val mm = ev.agg(min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi"))
        .collect()(0)
      val spanUs = mm.getLong(1) - mm.getLong(0) + 3600000000L
      ev.select(col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value"), col("props"), reps)
        .withColumn("event_id", col("event_id") + col("r") * 10000000L)
        .withColumn("user_id", col("user_id") + col("r") * 10000000L)
        .withColumn("ts",
          timestamp_micros(col("ts_us") + col("r") * spanUs))
        .drop("r", "ts_us")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    }
    // sales group (sentinel: customer.parquet, written last).
    // Customer replicates with c_custkey offset to match the orders
    // replicas (each orders replica joins its own customer replica);
    // c_nationkey stays, so the geography dims join unchanged. The
    // small dims (region/nation/part/supplier) copy VERBATIM —
    // deliberately: a 10x fact against fixed-size dims is the harder
    // broadcast-join case (same build side, 10x the probe side), and
    // it keeps q_parts_supplier's group-by output comparable across
    // scales. l_partkey/l_suppkey are already un-offset in the events
    // group's lineitem, so they land on the verbatim dims directly.
    if (missing("customer")) {
      Seq("region", "nation", "part", "supplier").foreach { t =>
        graft.core.Tables.load(s, srcDir, t)
          .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      }
      graft.core.Tables.customer(s, srcDir).select(col("*"), reps)
        .withColumn("c_custkey", col("c_custkey") + col("r") * 10000000L)
        .drop("r")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
    }
  }

  private def time[A](body: => A): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** recall@k of `got` against ground truth `gt`, both
    * (q_id, neighbor_id) frames. */
  private def recallAt(gt: DataFrame, got: DataFrame): Double = {
    val g = gt.select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val o = got.select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    if (g.isEmpty) 0.0 else (g intersect o).size.toDouble / g.size
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_sf1")
    // trailing args restrict the stress pass to named HeavyFamily
    // entries (and skip the ANN frontier) — for measuring a new
    // operator without re-running the whole family. Unknown names
    // fail loudly (the Bench contract).
    val wanted: Option[Set[String]] =
      if (args.length > 1) Some(args.drop(1).toSet) else None
    // "crossover" is a pseudo-entry selecting the J1 binned-vs-naive
    // study, which otherwise only runs with the full (unfiltered) set
    wanted.foreach { w =>
      val unknown = w.diff(
        HeavyFamily.toSet ++ EventsFamily ++ SalesFamily + "crossover")
      require(unknown.isEmpty,
        s"unknown HeavyFamily/EventsFamily entries: ${unknown.mkString(", ")}")
    }
    val spark = graft.core.SessionTune.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    buildScaled(spark, "/root/testdata/sf0.1", outDir, times = 10)
    // the study runs at the bench's byte-derived count for the 10x corpus
    graft.core.SessionTune.tuneForData(spark, outDir)

    (HeavyFamily ++ EventsFamily ++ SalesFamily)
      .filter(n => wanted.forall(_(n)))
      .foreach { name =>
        val secs = (0 until 2).map { _ =>
          val t = time(graft.core.CacheScope.withScope {
            Bench.drain(SparkEntry.queries(name)(spark, outDir))
          })
          spark.catalog.clearCache()
          t
        }
        println(f"""{"study":"sf1","query":"$name","sec":${secs.min}%.3f}""")
      }

    // ---- ANN recall-vs-cost frontier ------------------------------------
    // twice: the 10x jittered-replica corpus (each query's 9
    // near-copies dominate its true top-10 — favors cluster-local
    // methods) and the REAL sf0.1 corpus (representative neighborhood
    // structure, no replicas)
    if (wanted.isEmpty) {
      annFrontier(spark, outDir, "ann")
      annFrontier(spark, "/root/testdata/sf0.1", "ann-sf0.1")
    }
    if (wanted.forall(_("crossover"))) overlapCrossover(spark, outDir)
    spark.stop()
  }

  /** Naive-plan cap for [[overlapCrossover]]. Measured: the theta
    * join's per-equal-key cross product runs ~1e7 pair evaluations/s
    * (SortMergeJoin buffers each equal-key group and re-scans it per
    * probe row — not tight codegen), so 10k rows ≈ 2.6 s, 100k ≈
    * 4 min, 1M ≈ 7 h. The crossover sits BELOW 10k rows (binned wins
    * 2.3x there already); larger naive readings have no content. */
  val NaiveOverlapCap: Long = 20000L

  /** J1 binned-vs-naive crossover: both physical plans timed at
    * three corpus sizes (naive skipped above [[NaiveOverlapCap]]). */
  private def overlapCrossover(spark: SparkSession, scaledDir: String): Unit = {
    import graft.report.Overlap
    Seq(
      ("sf0.01", "/root/testdata/sf0.01"),
      ("sf0.1", "/root/testdata/sf0.1"),
      ("sf1", scaledDir)).foreach { case (tag, dir) =>
      val ev = graft.core.Tables.events(spark, dir).cache()
      val n = ev.count()
      // Bench.drain, not count(): count alone lets Catalyst drop the
      // ratio left-join (unique agg keys preserve row count), timing
      // an empty plan
      if (n <= NaiveOverlapCap) {
        val sec = time(Bench.drain(Overlap.naive(ev)))
        println(f"""{"study":"overlap","corpus":"$tag","plan":"naive","n":$n,"sec":$sec%.3f}""")
      } else System.err.println(
        s"[scale] overlap naive skipped at $tag (n=$n): quadratic")
      val sec = time(Bench.drain(Overlap.binned(ev)))
      println(f"""{"study":"overlap","corpus":"$tag","plan":"binned","n":$n,"sec":$sec%.3f}""")
      // the self-tuned width (quantile pass included in the timing)
      val secAuto = time(Bench.drain(Overlap.binnedAuto(ev)))
      println(f"""{"study":"overlap","corpus":"$tag","plan":"binned_auto","n":$n,"sec":$secAuto%.3f}""")
      ev.unpersist()
    }
  }

  private def annFrontier(spark: SparkSession, dir: String,
      study: String): Unit = {
    import graft.ops.{Ivf, Similarity}
    val emb = graft.core.Tables.embeddings(spark, dir).cache()
    val k = 10
    val gt = Similarity.bruteForceTopK(emb,
      emb.filter(col("vec_id") < 10L), k).cache()
    val bruteSec = time(gt.count())
    println(f"""{"study":"$study","method":"brute","param":0,"recall":1.0,"sec":$bruteSec%.3f}""")
    Seq(4, 6, 8, 10).foreach { bits =>
      var r = 0.0
      val sec = time {
        r = recallAt(gt, Similarity.lshTopK(emb, queryMaxId = 10L, k, nBits = bits))
      }
      println(f"""{"study":"$study","method":"lsh","param":$bits,"recall":$r%.3f,"sec":$sec%.3f}""")
    }
    Seq(0, 1, 2).foreach { radius =>
      var r = 0.0
      val sec = time {
        r = recallAt(gt, Similarity.lshTopKMultiProbe(emb, queryMaxId = 10L, k,
          nBits = 8, probeHamming = radius))
      }
      println(f"""{"study":"$study","method":"lsh-mp8","param":$radius,"recall":$r%.3f,"sec":$sec%.3f}""")
    }
    Seq(1, 2, 4, 8).foreach { tables =>
      var r = 0.0
      val sec = time {
        r = recallAt(gt, Similarity.lshTopKMultiTable(emb, queryMaxId = 10L, k,
          nBits = 8, nTables = tables))
      }
      println(f"""{"study":"$study","method":"lsh-mt8","param":$tables,"recall":$r%.3f,"sec":$sec%.3f}""")
    }
    Seq(1, 2, 4, 8).foreach { probe =>
      var r = 0.0
      val sec = time {
        r = recallAt(gt, Ivf.ivfTopK(emb, queryMaxId = 10L, k,
          nClusters = 16, nProbe = probe, iters = 2)._1)
      }
      println(f"""{"study":"$study","method":"ivf","param":$probe,"recall":$r%.3f,"sec":$sec%.3f}""")
    }
    emb.unpersist(); gt.unpersist()
  }
}
