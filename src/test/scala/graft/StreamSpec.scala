package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.core.Tables
import graft.streaming.EventStream

class StreamSpec extends SparkSpec {

  test("streaming windowed agg equals batch windowed agg") {
    val streamed = EventStream.runToMemory(spark,
      EventStream.windowedAgg(EventStream.read(spark, sf)), "t_stream_eq")
      .select(unix_micros(col("window.start")).as("w"), col("event_type"),
        col("n"), col("sum_c"))
      .orderBy("w", "event_type").collect()
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(graft.core.Num.cents(col("value"))).as("sum_c"))
      .select(unix_micros(col("window.start")).as("w"), col("event_type"),
        col("n"), col("sum_c"))
      .orderBy("w", "event_type").collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("Update-mode parquet upsert sink equals batch windowed agg (scale path)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsink").toString
    val streamed = EventStream.runUpdateToParquet(spark,
      EventStream.windowedAgg(EventStream.read(spark, sf)),
      s"$tmp/out", s"$tmp/ckpt", keyCols = Seq("window", "event_type"))
      .select(unix_micros(col("window.start")).as("w"), col("event_type"),
        col("n"), col("sum_c"))
      .orderBy("w", "event_type").collect()
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(graft.core.Num.cents(col("value"))).as("sum_c"))
      .select(unix_micros(col("window.start")).as("w"), col("event_type"),
        col("n"), col("sum_c"))
      .orderBy("w", "event_type").collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("late-past-watermark rows are dropped (drop-box semantics)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val hourUs = 3600L * 1000000L
    val tmp = java.nio.file.Files.createTempDirectory("graft_late").toString
    // batch 0: events in hours 1 and 5 -> the watermark computed from
    // this batch (5:00 - 1h delay = 4:00) closes window [1:00,2:00)
    Seq((1L, 1L * hourUs + 30 * 60000000L, "a", 1.0),
        (2L, 5L * hourUs, "a", 1.0))
      .toDF("event_id", "ts_us", "event_type", "value")
      .coalesce(1).write.parquet(s"$tmp/in/a.parquet")
    // batch 1: on-time only. Spark's late-record filter for batch N
    // uses the watermark PLANNED FOR batch N-1 (deterministic-replay
    // semantics), so the 4:00 watermark first FILTERS in batch 2.
    Seq((3L, 5L * hourUs + 600000000L, "a", 1.0))
      .toDF("event_id", "ts_us", "event_type", "value")
      .coalesce(1).write.parquet(s"$tmp/in/b.parquet")
    // batch 2: one LATE event back in hour 1 (window end 2:00 <= 4:00
    // watermark -> must be dropped) + one on-time event in hour 5
    Seq((4L, 1L * hourUs + 40 * 60000000L, "a", 1.0),
        (5L, 5L * hourUs + 1200000000L, "a", 1.0))
      .toDF("event_id", "ts_us", "event_type", "value")
      .coalesce(1).write.parquet(s"$tmp/in/c.parquet")
    // file order = mtime order; force one file per micro-batch in order
    def stamp(sub: String, t: Long): Unit = {
      val d = new java.io.File(s"$tmp/in/$sub")
      (d +: d.listFiles().toSeq).foreach(_.setLastModified(t))
    }
    stamp("a.parquet", 1000000L)
    stamp("b.parquet", 2000000L)
    stamp("c.parquet", 3000000L)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts_us", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // one file per micro-batch
      .parquet(s"$tmp/in/*.parquet")
      .withColumn("tsT", timestamp_micros(col("ts_us")))
    val out = EventStream.runUpdateToParquet(spark,
      EventStream.windowedAgg(src),
      s"$tmp/out", s"$tmp/ckpt", keyCols = Seq("window", "event_type"))
      .select(unix_micros(col("window.start")).as("w"), col("n"))
      .orderBy("w")
      .as[(Long, Long)].collect().toSeq
    // hour-1 window counts only the on-time event (late event 4 dropped);
    // hour-5 window counts its three on-time events
    assert(out === Seq((1L * hourUs, 1L), (5L * hourUs, 3L)))
  }

  test("progress listener observes every input row (St5)") {
    // the listener bus is async and JVM-global: progress events from
    // queries run by EARLIER tests/suites can still be in the queue and
    // would be delivered to this fresh listener — flush them first and
    // scope the listener to this test's own query name
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
    val listener = new EventStream.ProgressListener(Some("t_progress"))
    spark.streams.addListener(listener)
    try {
      EventStream.runToMemory(spark,
        EventStream.windowedAgg(EventStream.read(spark, sf)), "t_progress")
      // listener events are async; wait for delivery (generous bound —
      // the bus lags under full-suite box load)
      val deadline = System.currentTimeMillis() + 120000
      while (listener.totalRows < 1000 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(listener.totalRows === 1000L)
    } finally spark.streams.removeListener(listener)
  }

  test("stateful streaming sessionization equals batch sessionization") {
    val gap = 1800000000L
    val stateful = EventStream.sessionizeStateful(
        spark, EventStream.read(spark, sf), gap)
    val out = EventStream.runToMemory(spark, stateful, "t_sessions",
      org.apache.spark.sql.streaming.OutputMode.Append)
      .orderBy("user_id", "event_id").collect()
    val batch = EventStream.sessionizeBatch(
        Tables.events(spark, sf).select(col("user_id"), col("event_id"), col("ts_us")), gap)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("session_idx"))
      .orderBy("user_id", "event_id").collect()
    assert(out.length === batch.length)
    out.zip(batch).foreach { case (a, b) => assert(a === b) }
  }

  test("streaming dedup drops redelivered event ids across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dedup").toString
    // second file redelivers event 2 (the landing-dir redelivery case)
    Seq((1L, 1000000L), (2L, 2000000L)).toDF("event_id", "ts_us")
      .coalesce(1).write.parquet(s"$tmp/a.parquet")
    Seq((2L, 2000000L), (3L, 3000000L)).toDF("event_id", "ts_us")
      .coalesce(1).write.parquet(s"$tmp/b.parquet")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts_us", LongType)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // force separate micro-batches
      .parquet(s"$tmp/*.parquet")
      .withColumn("tsT", timestamp_micros(col("ts_us")))
    val out = EventStream.runToMemory(spark,
      EventStream.dedupStream(src, "10 minutes"), "t_dedup_stream",
      org.apache.spark.sql.streaming.OutputMode.Append)
      .select("event_id").as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 2L, 3L))
  }

  test("sorted sessionizer route: one exchange, one sort, equals batch on disordered input") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_sorted_route").toString
    // rows arrive time-SHUFFLED within the file (37 is coprime with
    // 200, so ts is a permutation of 0..199 minutes per user): any
    // order leakage into the lazily-drained group iterator fabricates
    // session breaks, so twin equality proves the sort survived
    val rows = for (u <- 1L to 5L; i <- 0L until 200L)
      yield (u, u * 1000L + i, (i * 37L % 200L) * 60000000L)
    rows.toDF("user_id", "event_id", "ts_us")
      .coalesce(1).write.parquet(s"$tmp/in")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts_us", LongType)))
    val src = spark.readStream.schema(schema).parquet(s"$tmp/in")
    val q = EventStream.sessionizeStatefulSorted(spark, src, gapUs = 90L * 1000000L)
      .writeStream.format("memory").queryName("t_sorted_route")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val plan = Bridge.lastStreamingPlan(q)
      assert(plan.contains("FlatMapGroupsWithState"))
      // the rule-planted repartition+secondary-sort must satisfy the
      // stateful op's requirements: NO second exchange or sort appears
      assert(plan.sliding("Exchange".length).count(_ == "Exchange") === 1, plan)
      assert(plan.sliding("Sort [".length).count(_ == "Sort [") === 1, plan)
      assert(plan.linesIterator.filter(_.contains("Sort ["))
        .forall(_.contains("ts_us")), plan)
    } finally q.stop()
    val stateful = spark.table("t_sorted_route")
      .orderBy("user_id", "event_id").collect()
    val batch = EventStream.sessionizeBatch(
        rows.toDF("user_id", "event_id", "ts_us"), gapUs = 90L * 1000000L)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("session_idx"))
      .orderBy("user_id", "event_id").collect()
    assert(stateful.length === batch.length)
    stateful.zip(batch).foreach { case (a, b) => assert(a === b) }
  }

  test("event-time eviction drops idle users' state; no-eviction keeps it") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val hourUs = 3600L * 1000000L
    def landing(): String = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_evict").toString
      def put(name: String, mtime: Long, rows: Seq[(Long, Long, Long)]): Unit = {
        rows.toDF("user_id", "event_id", "ts_us")
          .coalesce(1).write.parquet(s"$tmp/in/$name")
        val d = new java.io.File(s"$tmp/in/$name")
        (d +: d.listFiles().toSeq).foreach(_.setLastModified(mtime))
      }
      // user 1 active at 10h, then idle far past the 1h horizon while
      // the watermark advances on other users' traffic, then returns
      put("a.parquet", 1000000L,
        Seq((1L, 1L, 10L * hourUs), (1L, 2L, 10L * hourUs + 600000000L)))
      put("b.parquet", 2000000L, Seq((2L, 10L, 40L * hourUs)))
      put("c.parquet", 3000000L, Seq((3L, 11L, 41L * hourUs)))
      put("d.parquet", 4000000L, Seq((1L, 3L, 42L * hourUs)))
      tmp
    }
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts_us", LongType)))
    def run(evict: Option[String], name: String): Map[Long, Long] = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1) // one file per micro-batch
        .parquet(s"${landing()}/in/*.parquet")
        .withColumn("tsT", timestamp_micros(col("ts_us")))
      EventStream.runToMemory(spark,
        EventStream.sessionizeStateful(spark, src, gapUs = 1800000000L,
          evictAfter = evict),
        name, org.apache.spark.sql.streaming.OutputMode.Append)
        .filter(col("user_id") === 1L)
        .select("event_id", "session_idx").as[(Long, Long)].collect().toMap
    }
    // evicted: user 1's state is gone when they return, so their new
    // activity epoch restarts at session 0 (documented semantics)
    assert(run(Some("1 hour"), "t_evict") ===
      Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
    // without eviction the state survives and the 32h gap increments
    assert(run(None, "t_noevict") ===
      Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
  }

  test("sorted route continues sessions across event-time-ordered micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // the oracle-documented contract: when landing files arrive in
    // per-key event-time order ACROSS batches (maxFilesPerTrigger=1
    // here forces three), the sorted stateful route equals the
    // whole-history batch twin — session indices continue through
    // batch boundaries via state, gaps spanning batches included
    val tmp = java.nio.file.Files.createTempDirectory("graft_xbatch").toString
    val gap = 100L
    val batches = Seq(
      Seq((1L, 1L, 0L), (1L, 2L, 50L), (2L, 10L, 0L)),
      Seq((1L, 3L, 300L), (2L, 11L, 30L)),   // u1 gap spans batches 1->2
      Seq((1L, 4L, 320L), (2L, 12L, 500L)))  // u2 gap spans batches 2->3
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("user_id", "event_id", "ts_us")
        .coalesce(1).sortWithinPartitions("ts_us", "event_id")
        .write.parquet(s"$tmp/in/b$i.parquet")
      val d = new java.io.File(s"$tmp/in/b$i.parquet")
      (d +: d.listFiles().toSeq).foreach(_.setLastModified(1000000L * (i + 1)))
    }
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts_us", LongType)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/in/*.parquet")
    val got = EventStream.runToMemory(spark,
      EventStream.sessionizeStatefulSorted(spark, src, gapUs = gap),
      "t_xbatch", org.apache.spark.sql.streaming.OutputMode.Append)
      .select("event_id", "session_idx").as[(Long, Long)].collect().toMap
    val want = EventStream.sessionizeBatch(
        batches.flatten.toDF("user_id", "event_id", "ts_us"), gap)
      .select("event_id", "session_idx").as[(Long, Long)].collect().toMap
    assert(got === want)
    assert(got(3L) === 1L && got(4L) === 1L) // u1's cross-batch gap split
    assert(got(12L) === 1L)                  // u2's too
  }

  test("orderLanding(byName) makes a modtime-scrambled multi-batch drain equal the batch twin") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ordname").toString
    val gap = 100L
    // names encode event-time order; modtimes are REVERSED, so the
    // unordered pickup (oldest modtime first) would replay b2 -> b0:
    // u1's 300-then-0 arrivals would collapse every gap and fabricate
    // one long session — batch-twin equality proves the reorder ran
    val batches = Seq(
      Seq((1L, 1L, 0L), (1L, 2L, 50L), (2L, 10L, 0L)),
      Seq((1L, 3L, 300L), (2L, 11L, 30L)),
      Seq((1L, 4L, 320L), (2L, 12L, 500L)))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("user_id", "event_id", "ts_us")
        .coalesce(1).sortWithinPartitions("ts_us", "event_id")
        .write.parquet(s"$tmp/in/b$i.parquet")
      val d = new java.io.File(s"$tmp/in/b$i.parquet")
      (d +: d.listFiles().toSeq).foreach(_.setLastModified(1000000L * (9 - i)))
    }
    EventStream.orderLanding(spark, s"$tmp/in/*.parquet", byName = true)
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts_us", LongType)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/in/*.parquet")
    val got = EventStream.runToMemory(spark,
      EventStream.sessionizeStatefulSorted(spark, src, gapUs = gap),
      "t_ordname", org.apache.spark.sql.streaming.OutputMode.Append)
      .select("event_id", "session_idx").as[(Long, Long)].collect().toMap
    val want = EventStream.sessionizeBatch(
        batches.flatten.toDF("user_id", "event_id", "ts_us"), gap)
      .select("event_id", "session_idx").as[(Long, Long)].collect().toMap
    assert(got === want)
    assert(got(3L) === 1L && got(4L) === 1L && got(12L) === 1L)
  }

  test("orderLanding byName compares digit runs numerically (b2 before b10)") {
    import graft.streaming.EventStream.naturalCompare
    assert(naturalCompare("b2", "b10") < 0)
    assert(naturalCompare("b10", "b2") > 0)
    assert(naturalCompare("b2", "b2") === 0)
    assert(naturalCompare("b2", "b02") < 0)   // same number: fewer zeros first
    assert(naturalCompare("b02", "b2") > 0)   // ...and the order is total
    assert(naturalCompare("a9", "b1") < 0)
    assert(naturalCompare("batch12part3", "batch12part10") < 0)
    assert(naturalCompare("x", "x1") < 0)
    // end-to-end: unpadded numeric names rank 2 before 10
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ordnat").toString
    Seq(2, 10).foreach { i =>
      Seq((i.toLong, i.toLong, i.toLong)).toDF("user_id", "event_id", "ts_us")
        .coalesce(1).write.parquet(s"$tmp/in/b$i.parquet")
    }
    val ordered = EventStream.orderLanding(spark, s"$tmp/in/*.parquet",
      byName = true)
    assert(ordered.map(p => p.substring(p.lastIndexOf('/') + 1)) ===
      Seq("b2.parquet", "b10.parquet"))
  }

  test("orderLanding throws loudly when the filesystem ignores setTimes") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.nomtime.impl", classOf[NoMtimeFileSystem].getName)
    val tmp = java.nio.file.Files.createTempDirectory("graft_nomt").toString
    Seq((1L, 1L, 0L)).toDF("user_id", "event_id", "ts_us")
      .coalesce(1).write.parquet(s"$tmp/in/b0.parquet")
    val e = intercept[IllegalStateException] {
      EventStream.orderLanding(spark, s"nomtime://x$tmp/in/*.parquet",
        byName = true)
    }
    assert(e.getMessage.contains("ignored setTimes"))
    assert(e.getMessage.contains("orderLandingStaged"))
  }

  test("orderLandingStaged orders a drain on a store that ignores setTimes") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.nomtime.impl", classOf[NoMtimeFileSystem].getName)
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage").toString
    val gap = 100L
    // names encode order; modtimes REVERSED (the in-place route would
    // be required, but this store ignores setTimes)
    val batches = Seq(
      Seq((1L, 1L, 0L), (1L, 2L, 50L), (2L, 10L, 0L)),
      Seq((1L, 3L, 300L), (2L, 11L, 30L)),
      Seq((1L, 4L, 320L), (2L, 12L, 500L)))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("user_id", "event_id", "ts_us")
        .coalesce(1).sortWithinPartitions("ts_us", "event_id")
        .write.parquet(s"$tmp/in/b$i.parquet")
      val d = new java.io.File(s"$tmp/in/b$i.parquet")
      (d +: d.listFiles().toSeq).foreach(_.setLastModified(1000000L * (9 - i)))
    }
    val staged = EventStream.orderLandingStaged(spark,
      s"nomtime://x$tmp/in/*.parquet", s"nomtime://x$tmp/staged")
    assert(staged.map(p => p.substring(p.lastIndexOf('/') + 1)) ===
      Seq("000000_b0.parquet", "000001_b1.parquet", "000002_b2.parquet"))
    // the staged landing replays in event order on the plain local
    // view of the same directory (data was copied, not re-timed)
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts_us", LongType)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/staged/*.parquet")
    val got = EventStream.runToMemory(spark,
      EventStream.sessionizeStatefulSorted(spark, src, gapUs = gap),
      "t_staged", org.apache.spark.sql.streaming.OutputMode.Append)
      .select("event_id", "session_idx").as[(Long, Long)].collect().toMap
    val want = EventStream.sessionizeBatch(
        batches.flatten.toDF("user_id", "event_id", "ts_us"), gap)
      .select("event_id", "session_idx").as[(Long, Long)].collect().toMap
    assert(got === want)
    assert(got(3L) === 1L && got(4L) === 1L && got(12L) === 1L)
  }

  test("streaming admission loop dedups each micro-batch against everything admitted before it") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.streaming.DedupStream
    val tmp = java.nio.file.Files.createTempDirectory("graft_admstream").toString
    val tA = "a b c d e f g h"
    val tC = "p q r s t u v w"
    val tD = "j k l m n o p q"
    // b0 founds the corpus; b1 copies an admitted doc and adds one;
    // b2 copies docs admitted in DIFFERENT earlier batches plus a
    // copy-of-a-copy (3 duplicates tC via 4) and one new doc
    val batches = Seq(
      Seq((1L, tA), (2L, "x y z w v u t s")),
      Seq((3L, tA), (4L, tC)),
      Seq((5L, tC), (6L, "x y z w v u t s"), (7L, tD)))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$tmp/in/b$i.parquet")
    }
    EventStream.orderLanding(spark, s"$tmp/in/*.parquet", byName = true)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/in/*.parquet")
    // compaction interleaved with the drain itself, keepRecent = 0 so
    // the 3-batch drain performs a REAL rewrite mid-stream (after
    // batch 1: cutoff 1, partitions {0, 1} merge) — the decision log
    // and index must be indistinguishable from an uncompacted run
    val decisions = DedupStream.runAdmit(spark, stream, "text", "doc_id",
        s"$tmp/index", s"$tmp/decisions", s"$tmp/ckpt",
        compactEvery = Some(2), keepRecent = 0)
      .collect().map { r =>
        r.getLong(r.fieldIndex("id")) ->
          (r.getLong(r.fieldIndex("admitted")),
           if (r.isNullAt(r.fieldIndex("best_old_match"))) -1L
           else r.getLong(r.fieldIndex("best_old_match")))
      }.toMap
    assert(decisions.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(decisions(1L)._1 === 1L && decisions(2L)._1 === 1L) // founders admitted
    assert(decisions(3L) === (0L, 1L))  // copy of batch-0 admit: rejected vs 1
    assert(decisions(4L)._1 === 1L)     // genuinely new: admitted
    assert(decisions(5L) === (0L, 4L))  // copy of batch-1 admit: rejected vs 4
    assert(decisions(6L) === (0L, 2L))  // cross-batch copy: rejected vs 2
    assert(decisions(7L)._1 === 1L)
    // the in-drain compaction REWROTE: partitions 0 and 1 are one dir
    val bandParts = new java.io.File(s"$tmp/index/bands").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
    assert(!bandParts.contains("batch=0"), s"no rewrite ran: $bandParts")
    // the index holds exactly the admitted docs — rejected ones never
    // entered it
    val indexed = spark.read.parquet(s"$tmp/index/bands")
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(indexed === Set(1L, 2L, 4L, 7L))
    // and the streamed decision log equals running the batch
    // admission cycle sequentially (batch twin)
    val seqDir = java.nio.file.Files.createTempDirectory("graft_admseq").toString
    batches.zipWithIndex.foreach { case (rows, i) =>
      DedupStream.admitBatch(spark, rows.toDF("doc_id", "text"),
        "text", "doc_id", s"$seqDir/index", s"$seqDir/decisions",
        i.toLong, threshold = 0.5, maxDf = 1000L)
    }
    val want = spark.read.parquet(s"$seqDir/decisions")
      .collect().map { r =>
        r.getLong(r.fieldIndex("id")) ->
          (r.getLong(r.fieldIndex("admitted")),
           if (r.isNullAt(r.fieldIndex("best_old_match"))) -1L
           else r.getLong(r.fieldIndex("best_old_match")))
      }.toMap
    assert(decisions === want)
  }

  test("admission cycle is idempotent under at-least-once redelivery") {
    import spark.implicits._
    import graft.streaming.DedupStream
    val tmp = java.nio.file.Files.createTempDirectory("graft_admidem").toString
    val b0 = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val b1 = Seq((2L, "a b c d e f g h"), (3L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      DedupStream.admitBatch(spark, df, "text", "doc_id",
        s"$tmp/index", s"$tmp/decisions", id, threshold = 0.5, maxDf = 1000L)
    run(b0, 0L)
    run(b1, 1L)
    def state() = (
      spark.read.parquet(s"$tmp/decisions").drop("batch")
        .collect().map(_.toString).sorted.toSeq,
      spark.read.parquet(s"$tmp/index/bands").drop("batch")
        .collect().map(_.toString).sorted.toSeq)
    val before = state()
    // committed batch re-delivered (foreachBatch is at-least-once):
    // the _SUCCESS marker short-circuits — no duplicate rows anywhere
    run(b1, 1L)
    assert(state() === before)
    // crash-before-commit replay: index rows for batch 1 exist but
    // the decision marker is gone; the re-run must NOT verify the
    // batch against its own partial writes (self-rejection) and must
    // restore exactly the committed state
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/decisions/batch=1"), true)
    run(b1, 1L)
    assert(state() === before)
    val d3 = spark.read.parquet(s"$tmp/decisions")
      .filter(col("id") === 3L).collect()(0)
    assert(d3.getLong(d3.fieldIndex("admitted")) === 1L)
  }

  test("index compaction bounds partition count and preserves the decision log across a long drain") {
    import spark.implicits._
    import graft.streaming.DedupStream
    // 12 batches of 2 docs; every third doc copies an earlier admit,
    // including copies of docs that live BELOW the compaction cutoff
    // when their duplicate arrives — the case compaction must not lose
    def text(seed: Long): String =
      (0 until 8).map(j => s"w${(seed * 13 + j) % 97}").mkString(" ")
    val batches = (0 until 12).map { b =>
      (0 until 2).map { j =>
        val id = b * 2L + j
        val t = if (id % 3 == 2) text((id / 3) % 4) else text(100 + id)
        (id, t)
      }
    }
    val plain = java.nio.file.Files.createTempDirectory("graft_cplain").toString
    val comp = java.nio.file.Files.createTempDirectory("graft_ccomp").toString
    def drain(root: String, compactEvery: Option[Int]): Unit =
      batches.zipWithIndex.foreach { case (rows, i) =>
        DedupStream.admitBatch(spark, rows.toDF("doc_id", "text"),
          "text", "doc_id", s"$root/index", s"$root/decisions",
          i.toLong, threshold = 0.5, maxDf = 1000L)
        compactEvery.filter(e => (i + 1) % e == 0).foreach { _ =>
          DedupStream.compactIndex(spark, s"$root/index",
            s"$root/decisions", keepRecent = 2)
        }
      }
    drain(plain, None)
    drain(comp, Some(3))
    def log(root: String): Seq[String] =
      spark.read.parquet(s"$root/decisions").drop("batch")
        .collect().map(_.toString).sorted.toSeq
    assert(log(comp) === log(plain)) // identical admissions, rejections, matches
    // index CONTENT identical too (rows, regardless of partition)
    def bands(root: String): Seq[String] =
      spark.read.option("basePath", s"$root/index")
        .parquet(s"$root/index/bands").drop("batch")
        .collect().map(_.toString).sorted.toSeq
    assert(bands(comp) === bands(plain))
    // partition count stays bounded by the watermark, not drain age
    def nParts(root: String, t: String): Int =
      new java.io.File(s"$root/index/$t").listFiles()
        .count(_.getName.startsWith("batch="))
    assert(nParts(plain, "bands") === 12)
    Seq("bands", "shingles").foreach { t =>
      assert(nParts(comp, t) <= 4, s"$t partitions not bounded")
    }
    // compacting an already-compact index is a no-op
    assert(DedupStream.compactIndex(spark, s"$comp/index",
      s"$comp/decisions", keepRecent = 2).isEmpty)
  }

  test("a compaction crash after staging rolls forward; the standing side never shrinks") {
    import spark.implicits._
    import graft.streaming.DedupStream
    import org.apache.hadoop.fs.Path
    val tmp = java.nio.file.Files.createTempDirectory("graft_ccrash").toString
    val t0 = "a b c d e f g h"
    val b = Seq(
      Seq((0L, t0), (1L, "m n o p q r s t")),
      Seq((2L, "c2 x y z u v w q")),
      Seq((3L, "c3 k l j h g f d")))
    b.zipWithIndex.foreach { case (rows, i) =>
      DedupStream.admitBatch(spark, rows.toDF("doc_id", "text"),
        "text", "doc_id", s"$tmp/index", s"$tmp/decisions",
        i.toLong, threshold = 0.5, maxDf = 1000L)
    }
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // hand-build the crashed state compactIndex(keepRecent=0) would
    // leave if it died mid-swap: stage (with _SUCCESS) holds all rows
    // batch<=2, and one source partition is already gone
    val bandsDir = s"$tmp/index/bands"
    val full = spark.read.option("basePath", bandsDir).parquet(bandsDir)
      .filter(col("batch") <= 2).drop("batch")
      .collect().map(_.toString).sorted.toSeq
    spark.read.option("basePath", bandsDir).parquet(bandsDir)
      .filter(col("batch") <= 2).drop("batch")
      .write.parquet(s"$bandsDir/.compact_2")
    assert(fs.exists(new Path(s"$bandsDir/.compact_2/_SUCCESS")))
    fs.delete(new Path(s"$bandsDir/batch=0"), true)
    // doc 0's bands now exist ONLY in the stage; without recovery a
    // duplicate of t0 would be wrongly admitted. The next admission
    // cycle rolls the swap forward before reading the standing side:
    DedupStream.admitBatch(spark, Seq((9L, t0)).toDF("doc_id", "text"),
      "text", "doc_id", s"$tmp/index", s"$tmp/decisions",
      3L, threshold = 0.5, maxDf = 1000L)
    val d9 = spark.read.parquet(s"$tmp/decisions")
      .filter(col("id") === 9L).collect()(0)
    assert(d9.getLong(d9.fieldIndex("admitted")) === 0L)
    assert(d9.getLong(d9.fieldIndex("best_old_match")) === 0L)
    // swap completed: no stage dir, batches 0-2 now one partition
    assert(!fs.exists(new Path(s"$bandsDir/.compact_2")))
    val after = spark.read.option("basePath", bandsDir).parquet(bandsDir)
      .filter(col("batch") <= 2).drop("batch")
      .collect().map(_.toString).sorted.toSeq
    assert(after === full)
  }

  test("read() starts over an empty drop box with the legacy schema; conf never leaks for micros dirs") {
    val confKey = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(confKey)
    // micros-generation dir (current testdata): probe must not leak
    // the legacy conf into this session
    val live = EventStream.read(spark, sf)
    assert(live.isStreaming)
    // getOption reports the registered default ("false") when unset —
    // the leak would flip it to "true"
    assert(spark.conf.get(confKey) === "false",
      "nanosAsLong leaked from a micros-encoding probe")
    // empty drop box: stream starts with the declared legacy schema
    // (nanos generation — long ts), which implies the conf
    val empty = java.nio.file.Files.createTempDirectory("graft_dropbox").toString
    val df = EventStream.read(spark, empty)
    assert(df.isStreaming)
    assert(df.schema("ts").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(df.schema("ts_us").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(spark.conf.get(confKey) === "true")
    spark.conf.unset(confKey)
  }

  test("orderLanding manifest ranks by min event time when names mislead") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ordmani").toString
    val gap = 100L
    // lexicographic name order (a1, m2, z0) contradicts event-time
    // order (z0, a1, m2); modtimes scrambled too
    val files = Seq(
      "z0" -> Seq((1L, 1L, 0L), (1L, 2L, 50L)),
      "a1" -> Seq((1L, 3L, 300L)),
      "m2" -> Seq((1L, 4L, 320L), (1L, 5L, 600L)))
    files.zipWithIndex.foreach { case ((name, rows), i) =>
      rows.toDF("user_id", "event_id", "ts_us")
        .coalesce(1).sortWithinPartitions("ts_us", "event_id")
        .write.parquet(s"$tmp/in/$name.parquet")
      val d = new java.io.File(s"$tmp/in/$name.parquet")
      (d +: d.listFiles().toSeq).foreach(_.setLastModified(1000000L * (7 - 2 * i)))
    }
    // the manifest must come from parquet FOOTER stats only — no SQL
    // data scan may run during the ranking pass (at 100 TB the
    // difference is the whole job)
    // flush queued execution events from earlier tests before counting
    // (the async bus delivers stragglers to listeners registered later)
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
    val sqlSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { sqlSeen.incrementAndGet(); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val ordered =
      try {
        val o = EventStream.orderLanding(spark, s"$tmp/in/*.parquet",
          byName = false, eventTimeCol = "ts_us")
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
        assert(sqlSeen.get === 0,
          "manifest pass ran a SQL scan — footer stats should suffice")
        o
      } finally spark.listenerManager.unregister(listener)
    assert(ordered.map(p => p.substring(p.lastIndexOf('/') + 1)) ===
      Seq("z0.parquet", "a1.parquet", "m2.parquet"))
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts_us", LongType)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/in/*.parquet")
    val got = EventStream.runToMemory(spark,
      EventStream.sessionizeStatefulSorted(spark, src, gapUs = gap),
      "t_ordmani", org.apache.spark.sql.streaming.OutputMode.Append)
      .select("event_id", "session_idx").as[(Long, Long)].collect().toMap
    val want = EventStream.sessionizeBatch(
        files.flatMap(_._2).toDF("user_id", "event_id", "ts_us"), gap)
      .select("event_id", "session_idx").as[(Long, Long)].collect().toMap
    assert(got === want)
    assert(got(3L) === 1L && got(4L) === 1L && got(5L) === 2L)
  }

  test("stream entries take their sink root from config") {
    val root = java.nio.file.Files.createTempDirectory("graft_scratch_conf")
    val f = Bridge.cloneSession(spark)
    f.conf.set(graft.queries.StreamQueries.ScratchDirConf, root.toString)
    val p = graft.queries.StreamQueries.scratch(f, "t")
    assert(p.contains(root.toString))
    assert(new java.io.File(new java.net.URI(p).getPath).isDirectory ||
      new java.io.File(p).isDirectory)
    // end-to-end: the windowed-agg entry lands its sink under the
    // configured root and still answers
    val out = graft.queries.StreamQueries.qStreamWindow(f, sf)
    assert(out.count() > 0)
    import scala.jdk.CollectionConverters._
    val used = java.nio.file.Files.list(root).iterator().asScala.toSeq
    assert(used.exists(_.getFileName.toString.startsWith("win-")))
  }

  test("sessionization assumeSorted streams a pre-sorted single-key source lazily") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_sorted").toString
    // one file, one partition, rows already in (ts_us, event_id) order:
    // the sorted-source contract assumeSorted=true relies on
    Seq((1L, 1L, 0L), (1L, 2L, 50L), (1L, 3L, 300L), (1L, 4L, 350L))
      .toDF("user_id", "event_id", "ts_us")
      .coalesce(1).sortWithinPartitions("ts_us", "event_id")
      .write.parquet(s"$tmp/ev")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts_us", LongType)))
    val src = spark.readStream.schema(schema).parquet(s"$tmp/ev")
    val out = EventStream.runToMemory(spark,
      EventStream.sessionizeStateful(spark, src, gapUs = 100L, assumeSorted = true),
      "t_sorted_sessions", org.apache.spark.sql.streaming.OutputMode.Append)
      .orderBy("event_id").select("session_idx").as[Long].collect()
    assert(out.toSeq === Seq(0L, 0L, 1L, 1L))
  }
}
