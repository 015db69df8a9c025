package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Num, Tables}
import graft.streaming.EventStream

/** Streaming + sessionization queries (SURVEY §2.9). */
object StreamQueries extends graft.QueryModule {

  /** Config key for the stream sink/checkpoint root. On a cluster,
    * set it to shared storage every executor and the driver can reach
    * (HDFS / object store / the warehouse dir); unset, entries fall
    * back to a driver-local temp root — correct for local[N], where
    * driver and executors share the machine. */
  val ScratchDirConf = "spark.graft.stream.scratchDir"

  /** Per-JVM fallback scratch root, removed by a shutdown hook —
    * repeated Bench/Verify invocations don't strand parquet logs and
    * state-store checkpoints in /tmp. */
  private lazy val tempScratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_stream_scratch")
    sys.addShutdownHook {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(root))
        java.nio.file.Files.walk(root).iterator().asScala.toSeq
          .reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
    root
  }

  /** A fresh sink/checkpoint area under [[ScratchDirConf]] (any
    * Hadoop-reachable scheme) or the temp fallback. */
  private[graft] def scratch(s: SparkSession, prefix: String): String =
    s.conf.getOption(ScratchDirConf) match {
      case Some(root) =>
        val p = new org.apache.hadoop.fs.Path(root,
          s"$prefix-${java.util.UUID.randomUUID().toString.take(8)}")
        p.getFileSystem(s.sparkContext.hadoopConfiguration).mkdirs(p)
        p.toString
      case None =>
        java.nio.file.Files.createTempDirectory(tempScratchRoot, prefix)
          .toString
    }

  /** Count of committed micro-batches in a checkpoint, via the Hadoop
    * FileSystem API — [[scratch]] supports any Hadoop-reachable scheme
    * (a `java.io.File` listing NPEs on a non-local root). */
  private def committedBatches(s: SparkSession, ckpt: String): Int = {
    val p = new org.apache.hadoop.fs.Path(ckpt, "commits")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(_.getPath.getName.forall(_.isDigit))
  }

  /** Real Structured-Streaming execution (file source -> watermarked
    * windowed agg -> Update-mode foreachBatch parquet upsert), result
    * read back from the file sink. The scale-safe path: each
    * micro-batch writes only the windows it changed (distributed),
    * never the whole aggregate, and never through driver memory —
    * the memory-sink harness is specs-only. Windows are epoch-aligned
    * 1h tumbling — identical to DuckDB's time_bucket. */
  def qStreamWindow(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch(s, "win")
    val out = EventStream.runUpdateToParquet(s,
      EventStream.windowedAgg(EventStream.read(s, dir)),
      s"$tmp/out", s"$tmp/ckpt", keyCols = Seq("window", "event_type"))
    out.select(
        unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n"), col("sum_c"))
      .orderBy(col("win_start_us"), col("event_type"))
  }

  val qStreamWindowSql: String =
    s"""SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS win_start_us,
       |  event_type, count(*) AS n,
       |  ${Num.sumSql(Num.centsSql("value"))} AS sum_c
       |FROM events GROUP BY 1, 2 ORDER BY win_start_us, event_type""".stripMargin

  /** Gap-based sessionization, batch-declarative plan (the stateful
    * streaming twin is exercised in specs): 30-minute gap. */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"))
    EventStream.sessionizeBatch(ev, gapUs = 1800000000L)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  val qSessionizeSql: String =
    """WITH x AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |        PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |      > 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |y AS (
      |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
      |    ORDER BY ts_us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS session_idx
      |  FROM x)
      |SELECT user_id, session_idx, count(*) AS n_events,
      |  min(ts_us) AS session_start_us, max(ts_us) AS session_end_us
      |FROM y GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  /** The stateful STREAMING sessionizer as an oracle-checked entry:
    * `flatMapGroupsWithState` over the landing-dir file stream,
    * per-event session assignments landed append-only in the parquet
    * file sink, then the same session summary as [[qSessionize]] —
    * so the batch twin's DuckDB oracle gates the streaming plan's
    * answers too (twin equivalence, promoted from spec-only).
    *
    * Uses the hot-key-safe sorted route: a planted key-repartition +
    * secondary sort (SecondarySortRule) + a lazily-drained group
    * iterator, so no per-key buffering however large a user's batch.
    *
    * Cross-batch ordering: the sort guarantees per-key event order
    * WITHIN a micro-batch; equivalence with the whole-history DuckDB
    * oracle additionally needs batches to arrive in per-key
    * event-time order across batches. [[EventStream.orderLanding]]
    * establishes exactly that for `maxFilesPerTrigger`-limited
    * multi-batch drains (StreamSpec proves batch-twin equality on a
    * scrambled landing dir at one file per micro-batch); this entry's
    * single static landing file drains in one batch either way. */
  def qSessionizeStream(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch(s, "sess")
    val assigned = EventStream.runAppendToParquet(s,
      EventStream.sessionizeStatefulSorted(s, EventStream.read(s, dir),
        gapUs = 1800000000L),
      s"$tmp/out", s"$tmp/ckpt")
    assigned
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** The LATE-TOLERANT buffered sessionizer as an oracle-checked
    * entry (promotes `SessionOrderSpec`'s result to the hard
    * correctness signal): the events table lands ADVERSARIALLY
    * interleaved — split round-robin on event_id into three landing
    * partitions, so every file spans the whole time range and per-key
    * ranges interleave maximally, the shape `SessionOrderSpec` proves
    * NO file-level ordering can fix — then drains one file per
    * micro-batch through [[EventStream.sessionizeBuffered]] with a
    * delay covering the full disorder. A second drain over the same
    * checkpoint appends two far-future flush sentinels (user_id −1):
    * the first advances the stream's max event time, the second runs
    * a batch under the advanced watermark so every buffered event
    * drains through its timeout (a continuous pipeline always has
    * that later arrival; a bounded replay appends it). The entry
    * REQUIRES ≥ 2 real-input micro-batches from the checkpoint's
    * commit log — the multi-batch claim is enforced by the
    * correctness gate itself. Oracle: the batch sessionization SQL
    * verbatim — whole-history truth on input no sorted drain gets
    * right. */
  def qSessionizeLate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val tmp = scratch(s, "sesslate")
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"))
    // one corpus scan: round-robin file split via a partition column
    // — clustered per split so it really is THREE files (without the
    // repartition every task writes into every dir: ~96 files → ~96
    // micro-batches, each flushing the whole buffered state; measured
    // 82.7 → 7.7 s at sf1)
    ev.withColumn("f", pmod(col("event_id"), lit(3L)))
      .repartition(col("f"))
      .write.partitionBy("f").parquet(s"$tmp/in")
    // bounded collect (one row): the time range fixes the tolerance —
    // delay > range means no real event is ever late-dropped, however
    // the files interleave
    val r = ev.agg(min("ts_us"), max("ts_us")).head()
    val (minTs, maxTs) = (r.getLong(0), r.getLong(1))
    val hourUs = 3600000000L
    val delayUs = (maxTs - minTs) + hourUs
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts_us", LongType)))
    def drain(): DataFrame = EventStream.runAppendToParquet(s,
      EventStream.sessionizeBuffered(s,
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(s"$tmp/in/f=*/*.parquet")
          .withColumn("tsT", timestamp_micros(col("ts_us"))),
        gapUs = 1800000000L, delay = s"$delayUs microseconds"),
      s"$tmp/out", s"$tmp/ckpt")
    drain() // all real events buffer; none can be late
    val realBatches = committedBatches(s, s"$tmp/ckpt")
    require(realBatches >= 2,
      s"late-sessionize drain must be multi-batch, saw $realBatches")
    import s.implicits._
    // two sentinel FILES → two batches: the first lifts max event
    // time, the second evaluates under the advanced watermark
    Seq((-1L, -1L, maxTs + delayUs + hourUs),
        (-1L, -2L, maxTs + delayUs + 2 * hourUs)).foreach { row =>
      Seq(row).toDF("user_id", "event_id", "ts_us")
        .withColumn("f", lit(9L)).coalesce(1)
        .write.mode("append").partitionBy("f").parquet(s"$tmp/in")
    }
    drain()
      .filter(col("user_id") >= 0) // sentinels stay buffered anyway
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** The buffered sessionizer at its PRODUCTION posture, under the
    * same hard oracle gate: a BOUNDED 2-hour late tolerance over a
    * time-ordered drain — the configuration a deployment actually
    * runs, where the landing zone delivers files in rough event-time
    * order and the tolerance absorbs the residual jitter. The events
    * table lands range-partitioned into 8 strictly time-ordered
    * buckets (one file each, via a single `repartition(f)` write) and
    * [[EventStream.orderLanding]] pins arrival = bucket order, so the
    * watermark — always one batch behind — can never pass an
    * unarrived event: the bounded tolerance drops NOTHING, and state
    * holds at most one watermark-horizon of events per key instead of
    * the whole corpus ([[qSessionizeLate]]'s delay=range extreme).
    * Flush and the ≥2-real-batch requirement follow the late entry's
    * pattern; the oracle is the batch sessionization SQL verbatim. */
  def qSessionizeBounded(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val tmp = scratch(s, "sessbnd")
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"))
    // bounded collect (one row): the range fixes the bucket width
    val r = ev.agg(min("ts_us"), max("ts_us")).head()
    val (minTs, maxTs) = (r.getLong(0), r.getLong(1))
    val widthUs = (maxTs - minTs) / 8 + 1
    // one corpus scan: 8 range buckets, each exactly one file (the
    // repartition puts every bucket's rows in one task), so arrival
    // order IS event-time order at file granularity
    val bucketed = ev.withColumn("f", (col("ts_us") - lit(minTs)) / lit(widthUs))
      .withColumn("f", col("f").cast("long"))
    bucketed.repartition(col("f"))
      .write.partitionBy("f").parquet(s"$tmp/in")
    EventStream.orderLanding(s, s"$tmp/in/f=*", byName = true)
    val hourUs = 3600000000L
    val delayUs = 2 * hourUs // the production knob: bounded, not range
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts_us", LongType)))
    def drain(): DataFrame = EventStream.runAppendToParquet(s,
      EventStream.sessionizeBuffered(s,
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(s"$tmp/in/f=*/*.parquet")
          .withColumn("tsT", timestamp_micros(col("ts_us"))),
        gapUs = 1800000000L, delay = s"$delayUs microseconds"),
      s"$tmp/out", s"$tmp/ckpt")
    drain() // ordered arrival: the bounded tolerance drops nothing
    val realBatches = committedBatches(s, s"$tmp/ckpt")
    require(realBatches >= 2,
      s"bounded-sessionize drain must be multi-batch, saw $realBatches")
    import s.implicits._
    // two sentinel FILES → two batches: lift max event time, then
    // evaluate under the advanced watermark (the tail flush a
    // continuous pipeline gets from its next arrival)
    Seq((-1L, -1L, maxTs + delayUs + hourUs),
        (-1L, -2L, maxTs + delayUs + 2 * hourUs)).foreach { row =>
      Seq(row).toDF("user_id", "event_id", "ts_us")
        .withColumn("f", lit(99L)).coalesce(1)
        .write.mode("append").partitionBy("f").parquet(s"$tmp/in")
    }
    drain()
      .filter(col("user_id") >= 0) // sentinels stay buffered anyway
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** The `documents` landing dir as a file stream (its schema probed
    * from the table's footer), with the decontamination entries' eval
    * slice (doc_id % 53 == 0) beside it. */
  private def documentsFeed(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    (s.readStream.schema(docs.schema).parquet(s"$dir/documents*.parquet"),
      docs.filter(pmod(col("doc_id"), lit(53)) === 0))
  }

  /** The continuous-ingest filter funnel
    * ([[graft.streaming.FunnelStream]]) driven as a real stream over
    * the documents table (one AvailableNow batch here; the per-batch
    * accumulation contract is pinned by `FunnelStreamSpec`). The
    * oracle is the BATCH funnel statement — the drain must reproduce
    * it exactly, batch column included. */
  def qFunnelStream(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch(s, "funnel")
    val (stream, _) = documentsFeed(s, dir)
    graft.streaming.FunnelStream.runFunnel(s, stream, "text", "doc_id",
      "lang", s"$tmp/index", s"$tmp/funnel", s"$tmp/ckpt")
  }

  val qFunnelStreamSql: String =
    s"""SELECT CAST(0 AS BIGINT) AS batch, f.* FROM (
       |${SelectionQueries.qFilterFunnelSql}
       |) f""".stripMargin

  /** Continuous curation ([[graft.streaming.CurationStream]]): gate →
    * cross-batch dedup → per-batch packing, driven as a real stream
    * (one AvailableNow batch here; multi-batch accumulation is pinned
    * by `CurationStreamSpec`). The oracle replays the whole chain —
    * funnel survivors into the pack layout — in one statement. */
  def qCurateStream(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch(s, "curate")
    val (stream, _) = documentsFeed(s, dir)
    graft.streaming.CurationStream.runCurate(s, stream, "text", "doc_id",
      "lang", s"$tmp/index", s"$tmp/admitted", s"$tmp/manifest",
      s"$tmp/ckpt")
  }

  val qCurateStreamSql: String =
    s"""SELECT CAST(0 AS BIGINT) AS batch, m.* FROM (
       |WITH ${SelectionQueries.funnelCtes},
       |sel AS (SELECT id AS doc_id, n_words AS toks FROM surv),
       |${CurationQueries.packLayoutCtes("sel")}
       |${CurationQueries.packManifestSql}
       |) m""".stripMargin

  /** Continuous curation WITH DECONTAMINATION: the full drain of
    * [[qCurateStream]] plus a batch-local eval-suite gate ahead of
    * the funnel — each micro-batch drops docs whose best 3-gram
    * overlap with the (static, broadcast-small) benchmark slice
    * (doc_id % 53 == 0, the decontamination entries' convention)
    * reaches 0.2 before anything else runs, so eval data and its
    * near-copies can never reach the training manifest. The oracle
    * pins decon INSIDE the first-wins window (ahead of dedup, the
    * engine's stage order); with exact-md5 fingerprints the two
    * orders coincide — identical texts are identically contaminated —
    * but the pin keeps the composed semantics explicit for fuzzier
    * dedup variants. */
  def qCurateDeconStream(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch(s, "curatedc")
    val (stream, evalSet) = documentsFeed(s, dir)
    graft.streaming.CurationStream.runCurate(s, stream, "text", "doc_id",
      "lang", s"$tmp/index", s"$tmp/admitted", s"$tmp/manifest",
      s"$tmp/ckpt", evalDf = Some(evalSet))
  }

  /** Decon + decon-aware survivor CTE chain shared by the two
    * decontaminating drain oracles: funnel `f` -> `sel` (doc_id,
    * toks), with the flagged set removed INSIDE the first-wins
    * window. */
  private val deconSelCtes: String =
    s"""dct AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
       |dcsh AS (SELECT DISTINCT doc_id AS id,
       |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
       |       FROM dct, UNNEST(generate_series(1, len(w)-2)) AS u(i)
       |       WHERE len(w) >= 3),
       |dcshe AS (SELECT id AS eval_id, g FROM dcsh WHERE id % 53 = 0),
       |${CurationQueries.overlapCtes("dcsh", "dcshe", "dc")},
       |dcflg AS (SELECT id FROM dcbest WHERE ratio >= 0.2),
       |sel AS (SELECT id AS doc_id, n_words AS toks FROM (
       |    SELECT id, n_words, row_number() OVER (
       |      PARTITION BY fp ORDER BY id) AS rn
       |    FROM f WHERE f3 = 1
       |      AND id NOT IN (SELECT id FROM dcflg))
       |  WHERE rn = 1)""".stripMargin

  /** DuckDB replay of [[qCurateDeconStream]]: the shared funnel flag
    * chain, the shared best-overlap decon chain, then survivors
    * recomputed with the decon filter INSIDE the first-wins window
    * (the stage-order pin), into the shared pack layout. */
  val qCurateDeconStreamSql: String =
    s"""SELECT CAST(0 AS BIGINT) AS batch, m.* FROM (
       |WITH ${SelectionQueries.funnelCtes},
       |$deconSelCtes,
       |${CurationQueries.packLayoutCtes("sel")}
       |${CurationQueries.packManifestSql}
       |) m""".stripMargin

  /** The frozen per-source rate table for the FULL streaming chain:
    * src_i upsamples/downsamples at ((i % 4) + 1) x 0.5 epochs —
    * every corpus source rated explicitly, spanning the sub-1x keep
    * regime and true 1.5x/2x replication. Frozen offline is the
    * streaming contract: a snapshot's [[graft.ops.Mix]] run decides
    * the ppm, the drain applies it batch-locally. */
  private val fullStreamRates: Seq[(String, Long)] =
    (0 until 20).map(i => s"src$i" -> ((i % 4) + 1) * 500000L)

  private def ratesCase(rs: Seq[(String, Long)]): String =
    "CASE source " +
      rs.map { case (s, r) => s"WHEN '$s' THEN $r" }.mkString(" ") +
      " ELSE 0 END"

  /** The COMPLETE curation chain as one continuous drain: quality
    * gate -> decontamination -> cross-batch dedup -> FIXED-RATE
    * mixing with upsampling epochs -> per-copy context packing.
    * Every stage of the batch pipeline (`q_curation_full`) now runs
    * continuously; rates are frozen offline
    * ([[graft.ops.Mix.copiesAtRatesOn]]) so the mixing stage adds no
    * cross-batch state and the drain keeps its idempotence contract
    * unchanged. */
  def qCurateFullStream(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch(s, "curatefull")
    val (stream, evalSet) = documentsFeed(s, dir)
    graft.streaming.CurationStream.runCurate(s, stream, "text", "doc_id",
      "lang", s"$tmp/index", s"$tmp/admitted", s"$tmp/manifest",
      s"$tmp/ckpt", budget = 1024L,
      evalDf = Some(evalSet), mixRatesPpm = Some(fullStreamRates))
  }

  /** DuckDB replay of [[qCurateFullStream]]: the shared funnel +
    * decon survivor chain, the fixed-rate copy formula, the shared
    * per-copy pack layout. */
  val qCurateFullStreamSql: String =
    s"""SELECT CAST(0 AS BIGINT) AS batch, m.* FROM (
       |WITH ${SelectionQueries.funnelCtes},
       |$deconSelCtes,
       |mbase AS (SELECT sel.doc_id, d.source, sel.toks AS n_tokens,
       |    ${graft.ops.Mix.bucketPpmSql("sel.doc_id", "mix")} AS ppm
       |  FROM sel JOIN documents d USING (doc_id)),
       |mcp AS (SELECT doc_id, n_tokens,
       |    ((${ratesCase(fullStreamRates)}) + 999999 - ppm) // 1000000
       |      AS n_copies FROM mbase),
       |keptc AS (SELECT doc_id, n_tokens,
       |    unnest(generate_series(0, n_copies - 1)) AS epoch
       |  FROM mcp WHERE n_copies > 0),
       |${CurationQueries.packCopiesTail}
       |) m""".stripMargin

  /** CONTINUOUS vector-index ingestion
    * ([[graft.streaming.VectorIndexStream]]): the quantizer is
    * trained offline on the snapshot and FROZEN, the embedding stream
    * drains into cluster-partitioned inverted-list appends with the
    * marker-last idempotence contract, and the top-k search runs
    * against the PERSISTED standing index — proving the index
    * partitions, not the stream, are the queryable artifact. Same
    * (queryMaxId, k, nProbe) surface as `q_ann_ivf`, so the oracle is
    * the SAME full IVF replay with this run's centroids inlined. */
  def qAnnStream(s: SparkSession, dir: String): (DataFrame, String) = {
    import graft.core.CacheScope.Scoped
    val tmp = scratch(s, "annstream")
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val prepared = graft.ops.Similarity.prepared(emb).scopedCache()
    val centroids = graft.ops.Ivf.train(prepared, k = 8, iters = 1)
    val stream = s.readStream.schema(emb.schema)
      .parquet(s"$dir/embeddings*.parquet")
    graft.streaming.VectorIndexStream.runIngest(s, stream, centroids,
      s"$tmp/index", s"$tmp/manifest", s"$tmp/ckpt")
    (graft.streaming.VectorIndexStream.searchStanding(s, s"$tmp/index",
      s"$tmp/manifest", emb.filter(col("vec_id") < 10), centroids,
      k = 5, nProbe = 3),
      TrainingQueries.ivfOracleSql(graft.ops.Ivf.Model(centroids,
        queryMaxId = 10L, k = 5, nProbe = 3)))
  }

  /** Stream-stream inner join ([[EventStream.attributionJoin]]):
    * views matched to same-user purchases within 2 hours, both sides
    * watermarked so join state is bounded by the horizon. Append
    * output — each match is emitted exactly once via the file sink's
    * commit log. Oracle: the identical batch theta join. */
  def qStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch(s, "sjoin")
    // streaming SELF-join from one source: Spark plans two branches
    // over the same FileStreamSource, halving source/probe overhead
    // vs two independent readStream instances
    val ev = EventStream.read(s, dir)
    val joined = EventStream.attributionJoin(ev, ev,
      windowUs = 7200000000L)
    EventStream.runAppendToParquet(s, joined, s"$tmp/out", s"$tmp/ckpt")
      .orderBy(col("user_id"), col("view_id"), col("purchase_id"))
  }

  val qStreamJoinSql: String =
    """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
      |  epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
      |FROM events v JOIN events p ON v.user_id = p.user_id
      |  AND v.event_type = 'view' AND p.event_type = 'purchase'
      |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '2 hours'
      |ORDER BY 1, 2, 3""".stripMargin

  /** Streaming approx-distinct: the [[graft.ops.Hll]] registers as a
    * continuous Update-mode aggregate — per (event_type, bucket) max
    * rank, state bounded at 2^p rows per group FOREVER (the mergeable
    * sketch property), where a streaming `dropDuplicates` would
    * accrete every distinct key. The register log compacts
    * last-update-wins; the estimate folds the final registers with
    * the same exact-integer arithmetic, so the oracle is the batch
    * HLL SQL over the drained corpus. */
  def qHllStream(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch(s, "hll")
    val regs = graft.ops.Hll.registers(
      EventStream.read(s, dir)
        .select(col("event_type"), col("user_id")),
      Seq("event_type"), "user_id", p = 8)
    val finalRegs = EventStream.runUpdateToParquet(s, regs,
      s"$tmp/out", s"$tmp/ckpt", keyCols = Seq("event_type", "bucket"))
    graft.ops.Hll.estimate(finalRegs, Seq("event_type"), p = 8)
      .select(col("event_type"), col("n_zero_regs"), col("sum_pow"),
        col("est_hll"), col("use_lc").cast("long").as("use_lc"))
      .orderBy(col("event_type"))
  }

  val qHllStreamSql: String =
    s"""SELECT event_type, n_zero_regs, sum_pow, est_hll,
       |  CAST(use_lc AS BIGINT) AS use_lc
       |FROM (
       |${graft.ops.Hll.estimateSql("events", "event_type",
           "CAST(user_id AS VARCHAR)", 8)})
       |ORDER BY event_type""".stripMargin

  /** Streaming Count-Min: the CMS counters as a continuous
    * Update-mode aggregate — per (group, row, col) counts, state
    * bounded at d·w rows per group forever (sums merge), the
    * streaming frequency twin of [[qHllStream]]. The drained
    * register log compacts last-update-wins, then the SAME top-5
    * probe as the batch entry runs against it, so the oracle is the
    * batch CMS SQL verbatim. */
  def qCmsStream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tmp = scratch(s, "cms")
    val regsStream = graft.ops.Cms.registers(
      EventStream.read(s, dir).select(col("event_type"), col("user_id")),
      Seq("event_type"), "user_id", d = 4, w = 256)
    val regs = EventStream.runUpdateToParquet(s, regsStream,
      s"$tmp/out", s"$tmp/ckpt", keyCols = Seq("event_type", "row", "col"))
    val exact = Tables.events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_exact"))
    val rkW = Window.partitionBy(col("event_type"))
      .orderBy(col("n_exact").desc, col("user_id"))
    val cand = exact.withColumn("rk", row_number().over(rkW).cast("long"))
      .filter(col("rk") <= 5)
    graft.ops.Cms.estimate(regs, cand, Seq("event_type"), "user_id",
        d = 4, w = 256, carryCols = Seq("rk", "n_exact"))
      .select(col("event_type"), col("rk"), col("user_id"),
        col("n_exact"), col("n_est"))
      .orderBy(col("event_type"), col("rk"))
  }

  /** Continuous report refresh ([[graft.streaming.ReportStream]]):
    * the landing-dir stream feeds the reference's grouped report
    * section (A1-A5 over run records — the same prepared projection
    * and `Groups.section` as `q_report_groups`), re-deriving ONLY the
    * groups each micro-batch touches (partition-pruned runs store +
    * dynamic partition overwrite upsert). The oracle is the BATCH
    * report SQL over the drained landing dir — incremental refresh
    * must land exactly the report a full rebuild would. */
  def qReportStream(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch(s, "report")
    val prepare: DataFrame => DataFrame = b =>
      graft.report.RunRecords.warmupFilter(
          graft.report.RunRecords.invalidatorFilter(
            b.withColumn("value_c", Num.cents(col("value"))),
            Map("event_type" -> "error")),
          "event_id", 100)
        .select(col("event_type"), col("value_c"),
          col("value_c").as("value_sum_c"), col("user_id"))
    graft.streaming.ReportStream.runRefresh(s, EventStream.read(s, dir),
        graft.report.Groups.GroupConfig(
          category = "event_type",
          showAsSum = Set("value_sum_c"),
          showAsList = Set("user_id")),
        prepare, s"$tmp/runs", s"$tmp/report", s"$tmp/ckpt")
      .select(col("event_type"), col("uses"), col("avg_value_c"),
        col("sum_value_sum_c"), col("user_id_list"))
      .orderBy(col("event_type"))
  }

  /** The batch report statement verbatim — the refresh must equal it. */
  val qReportStreamSql: String = ReportQueries.qReportGroupsSql

  /** CONTINUOUS INGESTION INTO THE SNAPSHOT TABLE
    * ([[graft.streaming.SnapStream]]): the landing zone drains as one
    * APPEND snapshot per micro-batch, each committed idempotently
    * under its batch id — the manifest carries the tag atomically
    * with the file list, so a replayed batch appends nothing (the
    * crash axis is spec-driven through Spark's real dropped-commit
    * replay in `SnapStreamSpec`). The drain runs the PRODUCTION
    * posture: in-drain vacuum on every commit with retention covering
    * the replay horizon (keep = 2 ≥ the AvailableNow window), so the
    * live version count — and with it the tag scan and chain walk —
    * stays bounded at any drain age (PLANS.md "Round 15: snapshot
    * drain-age study" measures the flatness at 240 batches). The entry REQUIRES ≥2
    * committed micro-batches AND the retention bound to have actually
    * engaged (exactly `keep` live versions at the end) — then
    * hash-gates the LATEST snapshot against the batch aggregate of
    * the raw events: the streamed table holds every input row exactly
    * once, with snapshot isolation and bounded time travel over the
    * live feed for free. */
  def qStreamSnapshot(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val tmp = scratch(s, "snapstream")
    val tbl = s"$tmp/tbl"
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        Num.cents(col("value")).as("value_c"))
    // one corpus scan: three landing files → three micro-batches
    // (cluster per split BEFORE the partitioned write — without it
    // every task writes into every dir: ~96 files → ~96 batches,
    // measured 23 s at sf1 vs 2.6 s clustered)
    ev.withColumn("f", pmod(col("event_id"), lit(3L)))
      .repartition(col("f"))
      .write.partitionBy("f").parquet(s"$tmp/in")
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value_c", LongType)))
    graft.streaming.SnapStream.runIngest(s,
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$tmp/in/f=*/*.parquet"),
      tbl, s"$tmp/ckpt", vacuumEvery = 1, keep = 2)
    require(committedBatches(s, s"$tmp/ckpt") >= 2,
      "snapshot ingestion must be multi-batch")
    require(graft.ops.SnapTable.versions(s, tbl).size == 2,
      "in-drain vacuum must bound live versions to exactly `keep`")
    graft.ops.SnapTable.read(s, tbl) // latest = everything, exactly once
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))
      .orderBy(col("event_type"))
  }

  val qStreamSnapshotSql: String =
    s"""SELECT event_type, count(*) AS n,
       |  ${Num.sumSql(Num.centsSql("value"))} AS sum_c
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  def entries: Map[String, (Run, String)] = Map(
    "q_report_stream" -> (qReportStream _, qReportStreamSql),
    "q_stream_join" -> (qStreamJoin _, qStreamJoinSql),
    "q_hll_stream" -> (qHllStream _, qHllStreamSql),
    "q_cms_stream" -> (qCmsStream _, MiscQueries.qCmsTopkSql),
    "q_stream_window" -> (qStreamWindow _, qStreamWindowSql),
    "q_sessionize" -> (qSessionize _, qSessionizeSql),
    "q_sessionize_stream" -> (qSessionizeStream _, qSessionizeSql),
    "q_sessionize_late" -> (qSessionizeLate _, qSessionizeSql),
    "q_sessionize_bounded" -> (qSessionizeBounded _, qSessionizeSql),
    "q_funnel_stream" -> (qFunnelStream _, qFunnelStreamSql),
    "q_curate_stream" -> (qCurateStream _, qCurateStreamSql),
    "q_curate_decon_stream" -> (qCurateDeconStream _, qCurateDeconStreamSql),
    "q_curate_full_stream" -> (qCurateFullStream _, qCurateFullStreamSql),
    "q_stream_snapshot" -> (qStreamSnapshot _, qStreamSnapshotSql))

  override def trained
      : Map[String, (SparkSession, String) => (DataFrame, String)] =
    Map("q_ann_stream" -> (qAnnStream _))
}
