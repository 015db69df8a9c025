package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.core.Num

/** Structured-Streaming surface (SURVEY §2.9).
  *
  * The reference's only "stream" is an S3 drop-box of one-JSON-per-run
  * files pulled in batch (s3pull.py); the Spark-native generalization
  * is a file-source micro-batch stream: `readStream` over the landing
  * directory, event-time windowed aggregation with a watermark, and
  * stateful per-key processing via `flatMapGroupsWithState`.
  */
object EventStream {

  /** The nanos-generation landing schema: `ts` as a raw nanos long
    * (what TIMESTAMP(NANOS) parquet reads as under the legacy conf).
    * [[read]] falls back to this when the landing glob matches
    * nothing yet — the drop-box pattern starts the stream over an
    * EMPTY directory and picks files up as they arrive, so an eager
    * probe failure must not kill the stream before the first file. */
  val legacyRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over the events landing path. `options` pass
    * through to the file source (e.g. `maxFilesPerTrigger` to bound a
    * drain's micro-batch size — pair with [[orderLanding]] so the
    * multi-batch replay arrives in event-time order).
    *
    * A file stream needs its schema up front, and `events.ts` has
    * shipped both as TIMESTAMP(NANOS) (read as nanos longs via the
    * legacy conf) and TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ), so
    * the schema is taken from one batch-reader footer probe of the
    * same glob — footer-only, no data pages — and `ts_us` normalizes
    * either encoding to micros since epoch (the session timezone is
    * pinned to UTC, making the NTZ cast the identity wall-clock).
    * An EMPTY landing glob falls back to [[legacyRawSchema]] so a
    * stream can start over a not-yet-populated drop box — that
    * fallback ASSUMES the nanos generation (its `ts` is a long), so
    * it implies the legacy conf below exactly as real nanos files
    * would; any other probe failure (corrupt files, incompatible
    * schemas across the glob) still throws at setup rather than
    * starting a stream over a guessed schema.
    *
    * Conf hygiene: the probe runs in a CLONED session so the legacy
    * `nanosAsLong` conf never leaks into the caller's later parquet
    * reads; only when the stream itself will read nanos-encoded data
    * (probed long `ts`, or the empty-dir fallback that declares it)
    * is the conf set on the caller's session — the stream must read
    * those files, and the source resolves confs at execution time. */
  def read(s: SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val glob = s"$dir/events*.parquet"
    val probe = org.apache.spark.sql.graftbridge.Bridge.cloneSession(s)
    probe.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema =
      try probe.read.parquet(glob).schema
      catch {
        // only the nothing-matched probe falls back (empty drop box);
        // genuine schema problems must not masquerade as "empty"
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).exists(c =>
              c.startsWith("PATH_NOT_FOUND") ||
                c.startsWith("UNABLE_TO_INFER_SCHEMA")) =>
          legacyRawSchema
      }
    val tsUs = schema("ts").dataType match {
      case LongType =>
        // genuinely nanos-encoded landing files: the conf must hold on
        // the EXECUTING session for the stream's own reads
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        expr("ts DIV 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    // glob, not bare file: FileStreamSource requires its basePath (the
    // non-glob prefix) to be a directory
    s.readStream.schema(schema).options(options)
      .parquet(glob)
      .withColumn("ts_us", tsUs)
      .withColumn("tsT", timestamp_micros(col("ts_us")))
  }

  /** Numeric-aware name comparison: digit runs compare as numbers
    * ("b2" before "b10"), everything else lexicographically — so
    * UNPADDED numeric landing names replay in write order, where a
    * plain lexicographic sort would silently reorder them (the exact
    * disorder [[orderLanding]] exists to prevent). */
  private[graft] def naturalCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    var zeroTie = 0 // total order: "2" before "02" when values equal
    while (i < a.length && j < b.length) {
      if (a.charAt(i).isDigit && b.charAt(j).isDigit) {
        var i2 = i; while (i2 < a.length && a.charAt(i2).isDigit) i2 += 1
        var j2 = j; while (j2 < b.length && b.charAt(j2).isDigit) j2 += 1
        val da = a.substring(i, i2).dropWhile(_ == '0')
        val db = b.substring(j, j2).dropWhile(_ == '0')
        val c = if (da.length != db.length) da.length - db.length
                else da.compareTo(db)
        if (c != 0) return c
        if (zeroTie == 0) zeroTie = (i2 - i) - (j2 - j)
        i = i2; j = j2
      } else {
        val c = a.charAt(i).compareTo(b.charAt(j))
        if (c != 0) return c
        i += 1; j += 1
      }
    }
    val rest = (a.length - i) - (b.length - j)
    if (rest != 0) rest else zeroTie
  }

  import org.apache.hadoop.fs.{FileSystem, Path}

  /** Landing entries under `glob` in replay-rank order, plus the
    * leaf-file expansion (an entry may be a bare file or a Spark
    * writer's directory of part files). `byName = true` ranks by
    * numeric-aware name ([[naturalCompare]]) — a pure listing pass;
    * `byName = false` ranks by per-entry min event time from parquet
    * FOOTER statistics ([[footerMins]]) — still metadata-only. */
  private def rankedEntries(
      s: SparkSession, glob: String, byName: Boolean, eventTimeCol: String)
      : (FileSystem, Seq[Path], Path => Seq[Path]) = {
    val p = new Path(glob)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val entries = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
      .map(_.getPath)
    def leaves(e: Path): Seq[Path] =
      if (fs.getFileStatus(e).isFile) Seq(e)
      else fs.listStatus(e).toSeq.filter(_.isFile).map(_.getPath)
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
    val ordered: Seq[Path] =
      if (byName)
        entries.sortWith((x, y) => naturalCompare(x.getName, y.getName) < 0)
      else {
        val mins = footerMins(s, entries.flatMap(leaves), eventTimeCol)
        def entryMin(e: Path): Long = {
          // keys are Path.toUri strings end-to-end (URI-encoded, so
          // names with spaces survive the round trip)
          val ms = leaves(e).map(_.toUri.toString).flatMap(mins.get)
          if (ms.isEmpty) Long.MaxValue else ms.min
        }
        entries.sortBy(entryMin)
      }
    (fs, ordered, leaves)
  }

  /** Per-file min of `eventTimeCol` from parquet FOOTER row-group
    * statistics — the manifest pass reads O(files) footers, never a
    * data page, so at any corpus size its cost is the listing, not
    * the data. Distributed over the file list (one tiny task per
    * partition of paths). Files whose footers lack statistics for
    * the column fall back to ONE data-scan restricted to exactly
    * those files; zero-row files drop out (no row groups, no event
    * time). */
  private def footerMins(
      s: SparkSession, files: Seq[Path], eventTimeCol: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    if (files.isEmpty) return Map.empty
    val sconf = new org.apache.spark.util.SerializableConfiguration(
      s.sparkContext.hadoopConfiguration)
    val nParts = math.max(1, math.min(files.size,
      s.sparkContext.defaultParallelism))
    // (path, encoding, statsComplete, min) — statsComplete=false flags
    // a footer with row groups but no usable stats for the column;
    // `encoding` is the column's parquet logical-type annotation (the
    // unit of the raw stats), carried so mixed-generation landing
    // dirs are DETECTED rather than silently ranked across units
    val probed = s.sparkContext.parallelize(
        files.map(_.toUri.toString), nParts)
      .map { pStr =>
        import org.apache.parquet.format.converter.ParquetMetadataConverter
        import org.apache.parquet.hadoop.ParquetFileReader
        val footer = ParquetFileReader.readFooter(
          sconf.value, new Path(new java.net.URI(pStr)),
          ParquetMetadataConverter.NO_FILTER)
        val msgType = footer.getFileMetaData.getSchema
        val encoding: String =
          if (!msgType.containsField(eventTimeCol)) "absent"
          else {
            val t = (msgType: org.apache.parquet.schema.GroupType)
              .getType(eventTimeCol)
            val ann =
              if (t.isPrimitive) t.asPrimitiveType().getLogicalTypeAnnotation
              else null
            if (ann != null) ann.toString
            else if (t.isPrimitive)
              t.asPrimitiveType().getPrimitiveTypeName.toString
            else "group"
          }
        val blockMins = footer.getBlocks.asScala.map { blk =>
          blk.getColumns.asScala
            .find(_.getPath.toDotString == eventTimeCol)
            .map(_.getStatistics)
            .filter(st => st != null && st.hasNonNullValue)
            .map(_.genericGetMin match {
              case l: java.lang.Long => l.longValue()
              case i: java.lang.Integer => i.longValue()
              case other => sys.error(
                s"unsupported event-time stats type: ${other.getClass}")
            })
        }
        if (blockMins.isEmpty) (pStr, encoding, true, None) // zero-row file
        else if (blockMins.forall(_.isDefined))
          (pStr, encoding, true, Some(blockMins.flatten.min))
        else (pStr, encoding, false, None)
      }.collect()
    // footer stats are RAW values in the column's own encoding (nanos
    // for TIMESTAMP(NANOS), micros for TIMESTAMP(MICROS)); ranking is
    // only sound within ONE encoding, so a landing dir that mixes
    // generations fails loudly here instead of silently interleaving
    // nanos and micros mins (the data read after would fail anyway —
    // but the ordering pass must not pretend it produced an order)
    val encodings = probed.collect {
      case (p, enc, _, _) if enc != "absent" => enc -> p
    }.groupBy(_._1)
    if (encodings.size > 1)
      throw new IllegalStateException(
        s"landing files mix '$eventTimeCol' encodings — event-time " +
          "ranking across units is meaningless: " +
          encodings.map { case (enc, fs) =>
            s"$enc (${fs.length} files, e.g. ${fs.head._2})"
          }.mkString("; "))
    val statless = probed.collect { case (p, _, false, _) => p }
    val scanned: Map[String, Long] =
      if (statless.isEmpty) Map.empty
      else {
        // cloned session: the legacy conf must not leak into the
        // caller's later parquet reads
        val probeS = org.apache.spark.sql.graftbridge.Bridge.cloneSession(s)
        probeS.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val df = probeS.read.parquet(statless.toIndexedSeq: _*)
        // keep the fallback in the SAME units the footer stats carry
        // for this dir's encoding (raw INT64: nanos for
        // TIMESTAMP(NANOS)-as-long files, micros for
        // TIMESTAMP(MICROS) ones) — a plain long cast of a timestamp
        // is SECONDS and would mix units within one manifest
        val t = df.schema(eventTimeCol).dataType match {
          case LongType => col(eventTimeCol)
          case _ => unix_micros(col(eventTimeCol).cast("timestamp"))
        }
        df.groupBy(input_file_name().as("f"))
          .agg(min(t).cast("long").as("t0"))
          .collect()
          .map(r => new java.net.URI(r.getString(0)).getPath -> r.getLong(1))
          .toMap
      }
    probed.flatMap {
      case (p, _, true, Some(m)) => Some(p -> m)
      case (p, _, true, None) => None
      case (p, _, false, _) =>
        // both sides decode through URI: p is Path.toUri (encoded),
        // as is input_file_name's output — raw Path strings with
        // spaces would not parse
        scanned.get(new java.net.URI(p).getPath).map(p -> _)
    }.toMap
  }

  /** Order a landing directory for multi-batch drains: the file
    * source picks files oldest-modification-first, so a
    * `maxFilesPerTrigger`-limited drain replays files in modtime
    * order — which is arrival order, not event order. This helper
    * rewrites modification times to rank order so cross-batch
    * arrival IS per-key event-time order and a stateful drain stays
    * equal to its batch twin:
    *
    *  - `byName = true` trusts upstream writer naming (part numbers,
    *    date prefixes — the common landing-zone contract), compared
    *    numerically-aware so unpadded numbers order correctly: pure
    *    listing pass, no data read.
    *  - `byName = false` ranks by per-entry min event time read from
    *    parquet FOOTER statistics ([[footerMins]]) — metadata-only
    *    too; no data page is fetched at any corpus size.
    *
    * O(files) metadata writes, zero data movement. The rewrite is
    * VERIFIED: object stores (S3A) ignore `setTimes` silently, and a
    * silent no-op would corrupt exactly the cross-batch ordering this
    * helper guarantees — so the first entry's modtime is read back
    * and a mismatch throws, pointing at [[orderLandingStaged]] (the
    * object-store-safe route). Returns the ordered paths. */
  def orderLanding(s: SparkSession, glob: String, byName: Boolean = true,
      eventTimeCol: String = "ts"): Seq[String] = {
    val (fs, ordered, leaves) = rankedEntries(s, glob, byName, eventTimeCol)
    val base = System.currentTimeMillis() - ordered.size * 2000L
    ordered.zipWithIndex.foreach { case (e, i) =>
      (e +: leaves(e)).distinct.foreach(f => fs.setTimes(f, base + i * 1000L, -1L))
    }
    // trust, then verify: read-backs catch filesystems that accept
    // setTimes and do nothing (S3A contract). BOTH ends of the rank
    // sequence are probed — a single probe could false-pass when the
    // file's original write time happens to sit near `base`; two
    // originals matching the arithmetic progression anchored at
    // now - 2*size seconds is not a plausible coincidence. Tolerance
    // covers second-granularity stores.
    def expectMtime(e: Path, i: Int): Unit = {
      val probe = (e +: leaves(e)).distinct.last
      val want = base + i * 1000L
      val got = fs.getFileStatus(probe).getModificationTime
      if (math.abs(got - want) > 1000L)
        throw new IllegalStateException(
          s"filesystem ${fs.getScheme} ignored setTimes on $probe " +
            s"(wanted $want, still $got): modtime ordering is silently " +
            "impossible here — use orderLandingStaged to copy the " +
            "landing files into rank order instead")
    }
    ordered.headOption.foreach(expectMtime(_, 0))
    if (ordered.size > 1) expectMtime(ordered.last, ordered.size - 1)
    ordered.map(_.toString)
  }

  /** MANIFEST-GATED ordered drain — the modtime-FREE ordering route:
    * rank the landing entries once (the same metadata-only pass as
    * [[orderLanding]]), then REVEAL them to a running drain one at a
    * time by RENAMING each into `stageDir` in rank order, gating on
    * the query's progress between reveals. Order comes from
    * VISIBILITY — the rename IS the commit, the
    * [[graft.ops.SnapTable]] marker-last pattern — never from
    * modification times, so it holds unchanged on stores that ignore
    * `setTimes` (S3A), copies ZERO data bytes (rename is a metadata
    * move within one filesystem), and has no O(files) driver mtime
    * loop to verify. The entries MOVE into the staging dir — the
    * consumed-claim posture of a production landing zone (stage a
    * copy upstream if the landing dir must survive).
    *
    * `start` must return a RUNNING streaming query over the staged
    * layout (rank-prefixed entry names land directly under
    * `stageDir`); the feeder then reveals entry i, waits
    * `processAllAvailable`, reveals i+1 — each entry is a complete
    * micro-batch boundary, so cross-batch arrival IS rank order.
    * Returns the staged paths in rank order; the query is left
    * RUNNING for the caller to flush sentinels / stop. */
  def drainOrdered(s: SparkSession, glob: String, stageDir: String,
      byName: Boolean = true, eventTimeCol: String = "ts")(
      start: String => org.apache.spark.sql.streaming.StreamingQuery)
      : Seq[String] = {
    val (fs, ordered, _) = rankedEntries(s, glob, byName, eventTimeCol)
    val stage = new Path(stageDir)
    fs.mkdirs(stage)
    val q = start(stageDir)
    ordered.zipWithIndex.map { case (e, i) =>
      val dst = new Path(stage, f"$i%06d_${e.getName}")
      require(fs.rename(e, dst), s"rename $e -> $dst failed")
      q.processAllAvailable()
      dst.toString
    }
  }

  /** Object-store-safe ordering: COPY the landing entries into
    * `stagingDir` in rank order instead of rewriting modtimes in
    * place (which S3A ignores — [[orderLanding]] detects that and
    * points here). Each staged entry gets a zero-padded rank-prefixed
    * name, so both creation order and name order carry the ranking;
    * copies are spaced past the filesystem's modtime granularity so
    * their creation times strictly ascend even where `setTimes` is a
    * no-op (the spacing wait triggers only when copies outrun the
    * clock; `setTimes` is still attempted best-effort for stores that
    * honor it). Point the stream at `stagingDir` and drain from
    * there. Data moves once — the price of ordering on a store
    * without mutable metadata; the manifest pass itself is still
    * metadata-only. Returns the staged paths in rank order. */
  def orderLandingStaged(
      s: SparkSession, glob: String, stagingDir: String,
      byName: Boolean = true, eventTimeCol: String = "ts"): Seq[String] = {
    val (fs, ordered, leaves) = rankedEntries(s, glob, byName, eventTimeCol)
    val conf = s.sparkContext.hadoopConfiguration
    val stage = new Path(stagingDir)
    val dstFs = stage.getFileSystem(conf)
    dstFs.mkdirs(stage)
    def stagedLeaves(dst: Path): Seq[Path] =
      if (dstFs.getFileStatus(dst).isFile) Seq(dst)
      else dst +: dstFs.listStatus(dst).toSeq
        .filter(_.isFile).map(_.getPath)
    var prevMtime = 0L
    val base = System.currentTimeMillis() - ordered.size * 2000L
    // estimated modtime granularity of the destination store, learned
    // from observed ties (starts optimistic: ms-resolution local/HDFS
    // never waits); a 1 s-granularity store waits ONCE per entry to
    // the boundary instead of re-copying the entry up to ~20 times
    var granMs = 1L
    ordered.zipWithIndex.map { case (e, i) =>
      val dst = new Path(stage, f"$i%06d_${e.getName}")
      // copy-and-verify: the file source orders by LEAF mtimes, so
      // every leaf of this entry must land strictly after the
      // previous entry's max. Wait out the store's clock granularity
      // BEFORE copying (cheap — no data moves while waiting), then
      // verify; only when the store's granularity was underestimated
      // does the entry re-copy (overwrite in place, no delete), with
      // the estimate doubling each time — so even a coarse store
      // converges in O(log granularity) copies, not O(gran / 50 ms).
      var done = false
      while (!done) {
        // wall clock must clear the previous entry's max mtime by a
        // full granularity unit for the new copy's mtime to be
        // STRICTLY greater on a clock that truncates to the unit
        val clear = (prevMtime / granMs) * granMs + granMs
        val wait = clear - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        org.apache.hadoop.fs.FileUtil.copy(fs, e, dstFs, dst,
          false /* deleteSource */, true /* overwrite */, conf)
        try {
          // best-effort: honored on HDFS/local, ignored on S3A — the
          // rank prefix + verified creation spacing carry the order
          stagedLeaves(dst).foreach(f =>
            dstFs.setTimes(f, base + i * 1000L, -1L))
        } catch { case _: Exception => () }
        val mts = stagedLeaves(dst)
          .map(f => dstFs.getFileStatus(f).getModificationTime)
        if (mts.min > prevMtime) { // prevMtime starts at 0: entry 0 always passes
          prevMtime = math.max(prevMtime, mts.max)
          done = true
        } else {
          granMs = math.min(granMs * 4, 4000L) // coarser than estimated
        }
      }
      dst.toString
    }
  }

  /** Event-time tumbling-window aggregation with a watermark: count +
    * exact-cents sum per (1h window, event_type). */
  def windowedAgg(stream: DataFrame): DataFrame =
    stream
      .withWatermark("tsT", "1 hour")
      .groupBy(window(col("tsT"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(Num.cents(col("value"))).as("sum_c"))

  /** SPEC-ONLY sink: run a streaming query to completion against a
    * static landing dir into the in-memory table sink and return the
    * result table. The memory sink accumulates the whole result on
    * the driver (and Complete mode re-emits the entire aggregate per
    * micro-batch), so this harness is for tests at test scale only —
    * production entries go through [[runUpdateToParquet]] /
    * [[runAppendToParquet]], which keep every batch's output
    * distributed. */
  def runToMemory(s: SparkSession, agg: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete): DataFrame = {
    val q = StreamTune.withStreamShuffle(agg) {
      agg.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    }
    try q.processAllAvailable()
    finally q.stop()
    s.table(name)
  }

  /** Production sink for streaming AGGREGATIONS: Update-mode
    * `foreachBatch` upsert into a parquet directory. Each micro-batch
    * appends only the (watermark-bounded) set of groups it changed,
    * tagged with the batch id; [[latestPerKey]] compacts the log to
    * final values at read time — the plain-parquet shape of the
    * standard streaming-MERGE-to-a-table pattern. Nothing ever
    * collects on the driver: per-batch output is written by executors,
    * state is bounded by the watermark, and the compaction is one
    * distributed shuffle. `Trigger.AvailableNow` drains a static
    * landing dir and terminates (the reference's batch-pull cadence,
    * s3pull.py, expressed as a self-stopping stream).
    *
    * `outDir`/`checkpointDir` must live on storage every executor AND
    * the driver can reach — on a cluster that means a shared
    * filesystem (HDFS/S3/warehouse dir), not a driver-local temp
    * path; local[N] tests may use /tmp because driver and executors
    * share the machine. */
  def runUpdateToParquet(
      s: SparkSession, agg: DataFrame, outDir: String,
      checkpointDir: String, keyCols: Seq[String]): DataFrame = {
    Drain.await(agg, checkpointDir, OutputMode.Update, streamShuffle = true)(
      _.foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("_batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
        ()
      })
    latestPerKey(
      readBackOrEmpty(s, outDir, agg.schema.add("_batch_id", LongType)),
      keyCols)
  }

  /** A zero-row stream writes nothing, so the sink dir may be absent
    * or data-file-free; reading back with the expected schema (rather
    * than inference) returns an empty frame instead of erroring. The
    * probe goes through the dir's own Hadoop FileSystem, so a sink on
    * any scheme reads back. */
  private def readBackOrEmpty(
      s: SparkSession, outDir: String, schema: StructType): DataFrame = {
    val out = new org.apache.hadoop.fs.Path(outDir)
    if (out.getFileSystem(s.sparkContext.hadoopConfiguration).exists(out))
      s.read.schema(schema).parquet(outDir)
    else s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Last-update-wins compaction of an Update-mode batch log: for each
    * key keep the row from the highest `_batch_id`. */
  def latestPerKey(log: DataFrame, keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_batch_id").desc)
    log.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_batch_id")
  }

  /** Production sink for APPEND-ONLY streams (per-event outputs such
    * as the stateful sessionizer): the built-in parquet file sink with
    * `Trigger.AvailableNow`. Exactly-once via the sink's commit log;
    * no driver materialization at any point. Same shared-storage
    * requirement for `outDir`/`checkpointDir` as
    * [[runUpdateToParquet]]. */
  def runAppendToParquet(
      s: SparkSession, stream: DataFrame, outDir: String,
      checkpointDir: String): DataFrame = {
    Drain.await(stream, checkpointDir, streamShuffle = true)(
      _.format("parquet").option("path", outDir))
    readBackOrEmpty(s, outDir, stream.schema)
  }

  /** Stream-stream inner join with event-time bounds: views matched
    * to the same user's purchases inside `[view_ts, view_ts +
    * windowUs]`. Both inputs carry watermarks, so Spark derives a
    * state-retention bound from the time-range condition — each
    * side's join state holds only the horizon's worth of rows (views
    * evict once `view_ts + windowUs` passes the watermark, purchases
    * once their own ts does), O(rows per horizon) at any ingest rate.
    * This is the attribution join a clickstream pipeline runs
    * continuously; the unbounded alternative (no watermark, no time
    * bound) would accrete state forever and is not a 100 TB plan. */
  def attributionJoin(views: DataFrame, purchases: DataFrame,
      windowUs: Long, delay: String = "2 hours"): DataFrame = {
    val v = views.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts_us").as("view_ts_us"), col("tsT").as("v_tsT"))
      .withWatermark("v_tsT", delay)
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"),
        col("ts_us").as("purchase_ts_us"), col("tsT").as("p_tsT"))
      .withWatermark("p_tsT", delay)
    v.join(p,
        col("user_id") === col("p_user_id") &&
        col("p_tsT") >= col("v_tsT") &&
        col("p_tsT") <= col("v_tsT") + expr(s"INTERVAL $windowUs MICROSECOND"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        (col("purchase_ts_us") - col("view_ts_us")).as("gap_us"))
  }

  /** Streaming exact dedup: drop duplicate event ids across
    * micro-batches — the streaming twin of
    * [[graft.ops.Dedup.exactClusters]]'s keep-first semantics (the
    * landing dir redelivers runs; the reference's `-N` report dedupe
    * is the batch shape of the same need). State is bounded by the
    * watermark: an id whose event time falls `delay` behind the
    * watermark is evicted, so state stays O(ids per horizon) at any
    * ingest rate instead of growing forever like a plain
    * `dropDuplicates` on a stream would. */
  def dedupStream(stream: DataFrame, delay: String = "1 hour"): DataFrame =
    stream.withWatermark("tsT", delay)
      .dropDuplicatesWithinWatermark("event_id")

  /** F14 twin: the reference's `.progress.txt` byte format
    * (experiment_caller.py:103-111) — the file holds `str(percent)`
    * where `percent = round(done/max*100)` under PYTHON'S round,
    * which is HALF-EVEN on the float (banker's): 50 of 200 done →
    * "25", 1 of 8 → "12" (12.5 rounds to the even 12). */
  def progressPercent(done: Long, max: Long): Int = {
    require(max > 0, "progress needs a positive expected total")
    java.math.BigDecimal.valueOf(done * 100.0 / max)
      .setScale(0, java.math.RoundingMode.HALF_EVEN).intValueExact()
  }

  /** Atomic-enough single-file write (temp + move): a poller reading
    * mid-write sees the old percent, never a torn one. */
  def writeProgressFile(file: java.nio.file.Path, done: Long,
      max: Long): Unit = {
    val tmp = file.resolveSibling(file.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp,
      progressPercent(done, max).toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, file,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** St5 + F14: live progress observation — the Spark-native form of
    * the reference's `.progress.txt` polling
    * (experiment_caller.py:103-111 / interactive_helpers.py:589-617):
    * a StreamingQueryListener accumulating per-micro-batch input-row
    * counts, optionally EMITTING the reference's progress file
    * (`progressFile` = (path, expected total rows)) in its exact
    * byte format after every batch, so tooling that tails the
    * reference's file works against the stream unchanged.
    *
    * `onlyName` scopes the tally to one named query. The listener bus
    * is JVM-global and asynchronous: events still queued from a query
    * that already terminated are delivered to listeners registered at
    * DELIVERY time, so an unfiltered listener on a busy session tallies
    * other queries' stragglers. A production observer names its query
    * and filters, exactly like the reference polls one run's own
    * progress file. */
  class ProgressListener(onlyName: Option[String] = None,
      progressFile: Option[(java.nio.file.Path, Long)] = None)
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val batches = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (onlyName.forall(_ == e.progress.name)) {
        batches.add(e.progress.numInputRows)
        progressFile.foreach { case (p, max) =>
          writeProgressFile(p, totalRows, max) }
      }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def totalRows: Long = {
      var s = 0L
      batches.forEach(n => s += n)
      s
    }
  }

  // ---- stateful sessionization (flatMapGroupsWithState) ------------------

  case class Ev(user_id: Long, event_id: Long, ts_us: Long)
  case class SessionState(sessionIdx: Long, lastTsUs: Long)
  case class SessionAssign(user_id: Long, event_id: Long, ts_us: Long, session_idx: Long)

  /** Parse an interval string ("2 hours") to milliseconds. */
  private def intervalMs(delay: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(delay))
    require(iv.months == 0, s"month-based eviction delay not supported: $delay")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  /** Gap-based sessionization as a custom stateful streaming op: a
    * new session starts when the gap to the previous event exceeds
    * `gapUs`. Events must be processed in (ts_us, event_id) order per
    * key within a batch; by default each group's iterator is buffered
    * and sorted to guarantee that.
    *
    * Scale contract: with `assumeSorted = true` the group iterator is
    * consumed LAZILY — one element at a time, state updated per
    * element (Spark commits group state after draining the returned
    * iterator) — so a hot key with millions of events per micro-batch
    * never materializes in memory. Per-key event order must then be
    * guaranteed by the plan; [[sessionizeStatefulSorted]] packages
    * that via [[graft.plans.SecondarySortRule]] (streaming forbids
    * `sortWithinPartitions` at the API level, so the secondary sort
    * is planted as an optimizer rule). The grouping uses
    * `groupBy(col).as[K, V]` rather than a `groupByKey` lambda so the
    * planted repartition+sort on the REAL `user_id` column satisfies
    * the operator's requirements with no further exchange or sort.
    * The default buffering path is the safe general case.
    *
    * State lifecycle: with `evictAfter = None` state is never dropped —
    * correct for `Trigger.AvailableNow` drains of a static landing dir
    * (the reference's batch-pull cadence), unbounded for a continuous
    * stream. For continuous runs pass an event-time eviction delay
    * (requires a `tsT` watermark column upstream): a user idle past
    * the watermark by that delay has its state removed. A user
    * reappearing AFTER eviction restarts at session_idx 0, so session
    * ids are unique per (user, activity epoch) — choose the delay
    * above the max tolerated inactivity. */
  def sessionizeStateful(
      s: SparkSession, stream: DataFrame, gapUs: Long,
      assumeSorted: Boolean = false,
      evictAfter: Option[String] = None): DataFrame = {
    import s.implicits._
    val src = evictAfter match {
      case Some(delay) => stream.withWatermark("tsT", delay)
      case None => stream
    }
    val timeoutConf =
      if (evictAfter.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val evictMs = evictAfter.map(intervalMs)
    // the watermarked column must reach the stateful operator's input
    // for event-time timeout (the checker demands a delay-tagged
    // attribute there); the Ev value encoder binds by name and
    // tolerates the extra column
    val evCols = Seq(col("user_id"), col("event_id"), col("ts_us")) ++
      (if (evictAfter.isDefined) Seq(col("tsT")) else Nil)
    src.select(evCols: _*)
      .groupBy(col("user_id")).as[Long, Ev]
      .flatMapGroupsWithState[SessionState, SessionAssign](
        OutputMode.Append, timeoutConf) {
        (_: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // idle past the eviction horizon: free the state row
            state.remove()
            Iterator.empty
          } else {
            val ordered: Iterator[Ev] =
              if (assumeSorted) evs
              else evs.toSeq.sortBy(e => (e.ts_us, e.event_id)).iterator
            var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
            ordered.map { e =>
              val idx =
                if (st.lastTsUs == Long.MinValue) st.sessionIdx
                else if (e.ts_us - st.lastTsUs > gapUs) st.sessionIdx + 1
                else st.sessionIdx
              st = SessionState(idx, e.ts_us)
              state.update(st)
              // ticket the eviction clock forward as events drain;
              // lazily-evaluated inside the map, after state.update,
              // which Spark commits post-drain like the state itself
              evictMs.foreach { d =>
                state.setTimeoutTimestamp(
                  math.max(e.ts_us / 1000L + d, state.getCurrentWatermarkMs + 1))
              }
              SessionAssign(e.user_id, e.event_id, e.ts_us, idx)
            }
          }
      }.toDF()
  }

  /** Production route for the stateful sessionizer: hot-key-safe.
    * [[graft.plans.SecondarySortRule]] plants a key repartition plus a
    * local (user_id, ts_us, event_id) sort under the stateful
    * operator — satisfying its required distribution and key-prefix
    * ordering, so planning inserts nothing further and the group
    * iterator streams lazily in event order (`assumeSorted = true`),
    * sorted by a SPILLING SortExec rather than an in-memory buffer
    * (plan-asserted in StreamSpec). */
  def sessionizeStatefulSorted(
      s: SparkSession, stream: DataFrame, gapUs: Long,
      evictAfter: Option[String] = None): DataFrame = {
    graft.plans.SecondarySortRule.register(s)
    sessionizeStateful(s, stream, gapUs, assumeSorted = true, evictAfter)
  }

  case class BufferedSessionState(
      pending: Seq[Ev], sessionIdx: Long, lastTsUs: Long)

  /** LATE-TOLERANT sessionizer — the correcting variant for the
    * ordering-contract boundary `SessionOrderSpec` pins: per-key
    * events BUFFER in state until the event-time watermark passes
    * them (no earlier event can still arrive within the declared
    * `delay`), then drain in exact (ts_us, event_id) order through
    * the gap logic. Cross-batch disorder up to `delay` — including
    * interleaved per-key file time ranges, which defeat any
    * file-level ordering — now yields the batch-twin answer; only
    * disorder BEYOND the declared tolerance degrades, and still
    * one-sided: the operator's late-input filter DROPS rows at or
    * below the current watermark before this function sees them
    * (the same drop the stream-stream join documents), so a
    * too-late event vanishes rather than corrupting sessions
    * already emitted.
    *
    * Costs vs [[sessionizeStatefulSorted]]: state holds up to one
    * watermark-horizon of events per key (bounded by `delay` x
    * arrival rate — the price of reordering), emission lags the
    * watermark, and a drain's tail past the final watermark stays
    * buffered until a later arrival advances it (continuous
    * pipelines always have one; bounded replays append a flush
    * record, as the spec does). The sorted variant remains the right
    * plan when arrival order is trusted. */
  def sessionizeBuffered(
      s: SparkSession, stream: DataFrame, gapUs: Long,
      delay: String): DataFrame = {
    import s.implicits._
    val delayMs = intervalMs(delay)
    stream.withWatermark("tsT", delay)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("tsT"))
      .groupBy(col("user_id")).as[Long, Ev]
      .flatMapGroupsWithState[BufferedSessionState, SessionAssign](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[BufferedSessionState]) =>
          val st0 = state.getOption
            .getOrElse(BufferedSessionState(Nil, 0L, Long.MinValue))
          val pending = st0.pending ++ evs
          // ready = at or before the watermark: nothing earlier can
          // still arrive (within the declared tolerance)
          val wmUs = state.getCurrentWatermarkMs * 1000L
          val (ready, hold) = pending.partition(_.ts_us <= wmUs)
          var idx = st0.sessionIdx
          var last = st0.lastTsUs
          val out = ready.sortBy(e => (e.ts_us, e.event_id)).map { e =>
            if (last != Long.MinValue && e.ts_us - last > gapUs) idx += 1
            last = e.ts_us
            SessionAssign(uid, e.event_id, e.ts_us, idx)
          }
          if (hold.isEmpty && state.hasTimedOut && out.isEmpty) {
            state.remove() // idle past the horizon with nothing held
            Iterator.empty
          } else {
            state.update(BufferedSessionState(hold, idx, last))
            // wake when the watermark passes the earliest held event;
            // idle keys get a horizon-spaced cleanup heartbeat
            val nextMs =
              if (hold.nonEmpty) hold.map(_.ts_us).min / 1000L
              else state.getCurrentWatermarkMs + delayMs
            state.setTimeoutTimestamp(
              math.max(nextMs, state.getCurrentWatermarkMs + 1))
            out.iterator
          }
      }.toDF()
  }

  /** Batch-declarative equivalent of the sessionizer: break flags via
    * `lag`, session index via running sum — one window, no state
    * store. This is the plan to prefer when the input is at rest. */
  def sessionizeBatch(events: DataFrame, gapUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("brk",
        when(col("ts_us") - lag(col("ts_us"), 1).over(byUser) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("brk")).over(cum))
  }
}
