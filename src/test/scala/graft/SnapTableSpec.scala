package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
import org.apache.spark.sql.types.LongType
import graft.ops.{ConcurrentCommitException, SnapTable}
import graft.sources.snap.SnapFileIndex

/** Snapshot-table contract: manifests are the only truth readers see,
  * append shares files instead of copying data, history stays
  * readable, and the change feed emits exactly the moved keys.
  */
class SnapTableSpec extends SparkSpec {
  import spark.implicits._

  test("commit/read: overwrite replaces, append shares prior files, history readable") {
    val tbl = Files.createTempDirectory("graft_snap").toString + "/t"
    val v1 = SnapTable.commit(spark,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), tbl, "overwrite")
    val v2 = SnapTable.commit(spark,
      Seq((3L, 30L)).toDF("k", "v"), tbl, "append")
    val v3 = SnapTable.commit(spark,
      Seq((9L, 90L)).toDF("k", "v"), tbl, "overwrite")
    assert((v1, v2, v3) === ((1, 2, 3)))
    assert(SnapTable.read(spark, tbl, Some(1)).count() === 2L)
    assert(SnapTable.read(spark, tbl, Some(2)).count() === 3L)
    assert(SnapTable.read(spark, tbl, Some(3)).count() === 1L)
    // latest = v3
    assert(SnapTable.read(spark, tbl).agg(sum("v")).head().getLong(0) === 90L)
    // append carried v1's files verbatim — no data was copied
    val f1 = SnapTable.files(spark, tbl, 1).toSet
    val f2 = SnapTable.files(spark, tbl, 2).toSet
    assert(f1.subsetOf(f2) && (f2 -- f1).forall(_.startsWith("data/b2-")))
  }

  test("torn commit: staged data without a manifest is invisible") {
    val tbl = Files.createTempDirectory("graft_snap_torn").toString + "/t"
    SnapTable.commit(spark, Seq((1L, 1L)).toDF("k", "v"), tbl, "overwrite")
    // a writer crashed after its data files, before its manifest
    Seq((7L, 7L)).toDF("k", "v").write.parquet(s"$tbl/data/b2")
    assert(SnapTable.versions(spark, tbl) === Seq(1))
    assert(SnapTable.read(spark, tbl).count() === 1L)
    // the next committer claims version 2 with its OWN staging dir
    val v = SnapTable.commit(spark,
      Seq((2L, 2L)).toDF("k", "v"), tbl, "append")
    assert(v === 2)
    assert(SnapTable.read(spark, tbl, Some(2)).count() === 2L)
  }

  test("vacuum: reference counting over manifests, not file ages") {
    val tbl = Files.createTempDirectory("graft_snap_vac").toString + "/t"
    SnapTable.commit(spark, Seq((1L, 10L)).toDF("k", "v"), tbl, "overwrite")
    SnapTable.commit(spark, Seq((2L, 20L)).toDF("k", "v"), tbl, "append")
    SnapTable.commit(spark, Seq((3L, 30L)).toDF("k", "v"), tbl, "overwrite")
    val doomed = (SnapTable.files(spark, tbl, 1) ++
      SnapTable.files(spark, tbl, 2)).toSet
    // keep=2 retires v1 — but v2 APPEND still references v1's batch,
    // so an age-based GC would corrupt v2; reference counting must not
    val removed = SnapTable.vacuum(spark, tbl, keep = 2)
    assert(removed === 0, "vacuum deleted a file a kept manifest references")
    assert(SnapTable.versions(spark, tbl) === Seq(2, 3))
    assert(SnapTable.read(spark, tbl, Some(2)).count() === 2L)
    // keep=1: only v3 survives, and v1/v2's files are now garbage
    assert(SnapTable.vacuum(spark, tbl, keep = 1) > 0)
    assert(SnapTable.versions(spark, tbl) === Seq(3))
    assert(SnapTable.read(spark, tbl).agg(sum("v")).head().getLong(0) === 30L)
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    doomed.foreach { rel =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(tbl, rel)),
        s"vacuum left unreferenced data behind: $rel")
    }
  }

  test("vacuum checkpoints the oldest kept version before retiring its base chain") {
    val tbl = Files.createTempDirectory("graft_snap_ckpt").toString + "/t"
    SnapTable.commit(spark, Seq((1L, 10L)).toDF("k", "v"), tbl, "overwrite")
    SnapTable.commit(spark, Seq((2L, 20L)).toDF("k", "v"), tbl, "append")
    SnapTable.commit(spark, Seq((3L, 30L)).toDF("k", "v"), tbl, "append")
    val f2 = SnapTable.files(spark, tbl, 2)
    // keep=2: v1's manifest retires, but v2 (an append) resolved
    // THROUGH v1 — the checkpoint must carry v2's full list so the
    // retained read never chases the retired manifest
    assert(SnapTable.vacuum(spark, tbl, keep = 2) === 0)
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(tbl, "checkpoint-v00002.txt")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tbl, "manifest-v00001.txt")))
    assert(SnapTable.files(spark, tbl, 2) === f2)
    assert(SnapTable.read(spark, tbl, Some(2))
      .agg(sum("v")).head().getLong(0) === 30L)
    assert(SnapTable.read(spark, tbl, Some(3))
      .agg(sum("v")).head().getLong(0) === 60L)
    // and the checkpointed version vacuums away cleanly later: an
    // overwrite orphans the whole chain, keep=1 reclaims it and the
    // retired version's checkpoint sidecar goes with its manifest
    SnapTable.commit(spark, Seq((9L, 90L)).toDF("k", "v"), tbl, "overwrite")
    assert(SnapTable.vacuum(spark, tbl, keep = 1) > 0)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tbl, "checkpoint-v00002.txt")),
      "retired version's checkpoint sidecar leaked")
    assert(SnapTable.read(spark, tbl).count() === 1L)
  }

  test("append manifests are O(new files): no cumulative list copying") {
    val tbl = Files.createTempDirectory("graft_snap_o1").toString + "/t"
    SnapTable.commit(spark,
      Seq((1L, 1L), (2L, 2L)).toDF("k", "v").repartition(4), tbl, "overwrite")
    (2 to 6).foreach { i =>
      SnapTable.commit(spark,
        Seq((i.toLong, i.toLong)).toDF("k", "v").coalesce(1), tbl, "append")
    }
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every append manifest names exactly ITS files plus one #base
    // pointer — drain-age-independent commit cost
    (2 to 6).foreach { v =>
      val lines = scala.io.Source.fromInputStream(
        fs.open(new org.apache.hadoop.fs.Path(tbl, f"manifest-v$v%05d.txt")),
        "UTF-8").getLines().filter(_.nonEmpty).toList
      assert(lines.count(_.startsWith("#base:")) === 1)
      assert(lines.count(!_.startsWith("#")) === 1,
        s"append manifest v$v copied carried files: $lines")
    }
    // while resolution still sees the whole accumulated table
    assert(SnapTable.read(spark, tbl).count() === 7L)
  }

  test("vacuum never touches staging above the committed head (in-flight protection)") {
    val tbl = Files.createTempDirectory("graft_snap_flight").toString + "/t"
    SnapTable.commit(spark, Seq((1L, 10L)).toDF("k", "v"), tbl, "overwrite")
    SnapTable.commit(spark, Seq((2L, 20L)).toDF("k", "v"), tbl, "overwrite")
    // a LIVE committer mid-flight: version head+1 staged, manifest not
    // yet renamed — vacuum running concurrently must leave it alone,
    // or the committer would publish a manifest over vanished files
    val inFlight = s"$tbl/data/b3-aaaa1111"
    Seq((9L, 90L)).toDF("k", "v").write.parquet(inFlight)
    SnapTable.vacuum(spark, tbl, keep = 1)
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(inFlight)),
      "vacuum deleted an in-flight commit's staging")
    // once the head passes it, abandoned staging at <= head is garbage
    SnapTable.commit(spark, Seq((3L, 30L)).toDF("k", "v"), tbl, "overwrite")
    assert(SnapTable.vacuum(spark, tbl, keep = 1) > 0)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(inFlight)),
      "abandoned staging below the head never reclaimed")
  }

  test("two REAL committer threads race appends: both land, versions linearize, no staging leaks") {
    val tbl = Files.createTempDirectory("graft_snap_race").toString + "/t"
    SnapTable.commit(spark, Seq((0L, 0L)).toDF("k", "v"), tbl, "overwrite")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val gate = new java.util.concurrent.CountDownLatch(2)
    def racer(rows: Seq[(Long, Long)]) =
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          val df = rows.toDF("k", "v")
          gate.countDown(); gate.await() // maximize overlap
          SnapTable.commitRetry(spark, df, tbl, "append")
        }
      })
    val (fa, fb) = (racer(Seq((1L, 10L))), racer(Seq((2L, 20L))))
    val (va, vb) = (fa.get(), fb.get())
    pool.shutdown()
    // linearized: the two commits took exactly versions 2 and 3
    assert(Set(va, vb) === Set(2, 3), s"got versions ($va, $vb)")
    assert(SnapTable.versions(spark, tbl) === Seq(1, 2, 3))
    // BOTH rows landed exactly once (append chains compose)
    assert(SnapTable.read(spark, tbl).orderBy("k")
      .as[(Long, Long)].collect().toSeq ===
      Seq((0L, 0L), (1L, 10L), (2L, 20L)))
    // no staging leaked: every data dir belongs to a referenced file
    val referenced = SnapTable.files(spark, tbl, 3)
      .map(_.split('/')(1)).toSet
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(tbl, "data"))
      .map(_.getPath.getName).toSet
    assert(dirs === referenced, s"staging leaked: ${dirs -- referenced}")
  }

  test("stale rewrite plan refuses — a concurrent append's rows are never dropped") {
    val tbl = Files.createTempDirectory("graft_snap_stale").toString + "/t"
    SnapTable.commit(spark, Seq((1L, 10L)).toDF("k", "v"), tbl, "overwrite")
    // a compactor derives its plan from head v1...
    val planned = SnapTable.files(spark, tbl, 1)
    val compacted = spark.read
      .parquet(planned.map(rel => s"$tbl/$rel"): _*).coalesce(1)
    // ...but an append lands before it commits: the plan is STALE —
    // committing it would publish a version without (2, 20)
    SnapTable.commit(spark, Seq((2L, 20L)).toDF("k", "v"), tbl, "append")
    val ex = intercept[ConcurrentCommitException] {
      SnapTable.commitRewrite(spark, compacted, tbl,
        carried = Seq.empty, expectedHead = Some(1))
    }
    assert(ex.getMessage.contains("stale"))
    // the retry loop re-derives from the new head and carries the
    // appended rows
    val v = SnapTable.rewriteWithRetry(spark, tbl, h => {
      val fs = SnapTable.files(spark, tbl, h)
      (spark.read.parquet(fs.map(rel => s"$tbl/$rel"): _*).coalesce(1),
        Seq.empty)
    })
    assert(v === 3)
    assert(SnapTable.read(spark, tbl).orderBy("k")
      .as[(Long, Long)].collect().toSeq === Seq((1L, 10L), (2L, 20L)))
  }

  test("OPTIMIZE races an append: rewrite yields, replays on top, nothing lost") {
    val tbl = Files.createTempDirectory("graft_snap_optrace").toString + "/t"
    SnapTable.commit(spark,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v").repartition(4),
      tbl, "overwrite")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val gate = new java.util.concurrent.CountDownLatch(2)
    val optimizer = pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = {
        gate.countDown(); gate.await()
        SnapTable.rewriteWithRetry(spark, tbl, h => {
          val fs = SnapTable.files(spark, tbl, h)
          (spark.read.parquet(fs.map(rel => s"$tbl/$rel"): _*).coalesce(1),
            Seq.empty)
        })
      }
    })
    val appender = pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = {
        gate.countDown(); gate.await()
        val df = Seq((3L, 30L)).toDF("k", "v")
        SnapTable.commitRetry(spark, df, tbl, "append")
      }
    })
    val (vo, va) = (optimizer.get(), appender.get())
    pool.shutdown()
    assert(Set(vo, va) === Set(2, 3), s"got versions ($vo, $va)")
    // whichever interleaving happened, the latest snapshot holds every
    // row exactly once — the optimizer never dropped the append
    // (optimizer last -> it replayed on top of the append; appender
    // last -> it appended onto the compacted base)
    val got = SnapTable.read(spark, tbl).orderBy("k")
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("tag replay works across a vacuum at the horizon boundary") {
    val tbl = Files.createTempDirectory("graft_snap_tagvac").toString + "/t"
    (0 to 4).foreach { i =>
      SnapTable.commitIfAbsent(spark,
        Seq((i.toLong, i.toLong)).toDF("k", "v"), tbl, "append", s"batch-$i")
    }
    // retention covers the replay horizon (the SnapStream contract):
    // keep=3 retains batches 2..4 — exactly the window Spark could
    // still replay — and their tags stay idempotent across the vacuum
    SnapTable.vacuum(spark, tbl, keep = 3)
    assert(SnapTable.versions(spark, tbl) === Seq(3, 4, 5))
    (2 to 4).foreach { i =>
      val v = SnapTable.commitIfAbsent(spark,
        Seq((99L, 99L)).toDF("k", "v"), tbl, "append", s"batch-$i")
      assert(v === i + 1, s"replayed tag batch-$i re-minted version $v")
    }
    assert(SnapTable.read(spark, tbl).count() === 5L,
      "a replayed tag inside the horizon appended rows")
    // a tag BEYOND the horizon is forgotten by design — recommitting
    // it mints a new version (why retention must cover the replay
    // window, pinned here as the failure mode)
    val re = SnapTable.commitIfAbsent(spark,
      Seq((0L, 0L)).toDF("k", "v"), tbl, "append", "batch-0")
    assert(re === 6)
  }

  test("vacuum crash order: manifests retire before data, so a mid-crash never breaks a promised read") {
    val tbl = Files.createTempDirectory("graft_snap_crash").toString + "/t"
    SnapTable.commit(spark, Seq((1L, 10L)).toDF("k", "v"), tbl, "overwrite")
    SnapTable.commit(spark, Seq((2L, 20L)).toDF("k", "v"), tbl, "overwrite")
    SnapTable.commit(spark, Seq((3L, 30L)).toDF("k", "v"), tbl, "overwrite")
    // simulate the crash window: the manifest-retirement half of
    // vacuum(keep=2) ran, the file-deletion half did not
    val f1 = SnapTable.files(spark, tbl, 1)
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tbl, "manifest-v00001.txt"), false)
    // every version the table still PROMISES is fully readable
    assert(SnapTable.versions(spark, tbl) === Seq(2, 3))
    assert(SnapTable.read(spark, tbl, Some(2)).count() === 1L)
    assert(SnapTable.read(spark, tbl, Some(3)).count() === 1L)
    // and the interrupted GC rolls forward: a re-run reclaims v1's
    // now-orphaned batch
    assert(SnapTable.vacuum(spark, tbl, keep = 2) > 0)
    f1.foreach { rel =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(tbl, rel)),
        s"interrupted GC re-run left orphan behind: $rel")
    }
    assert(SnapTable.read(spark, tbl, Some(2)).count() === 1L)
  }

  test("concurrent commit: a second claimant of the same version fails loudly") {
    val tbl = Files.createTempDirectory("graft_snap_cc").toString + "/t"
    SnapTable.commit(spark, Seq((1L, 1L)).toDF("k", "v"), tbl, "overwrite")
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the race window: both writers derived v=2 from the same head;
    // the winner's manifest lands first...
    SnapTable.claim(fs, tbl, 2, Seq("data/b2/winner.parquet"))
    // ...so the loser's claim of the SAME version must refuse, never
    // overwrite the winner's manifest
    val ex = intercept[java.io.IOException] {
      SnapTable.claim(fs, tbl, 2, Seq("data/b2/loser.parquet"))
    }
    assert(ex.getMessage.contains("concurrent commit"))
    assert(SnapTable.files(spark, tbl, 2) === Seq("data/b2/winner.parquet"))
    // and the public commit path, arriving after the winner, simply
    // claims the NEXT version
    assert(SnapTable.commit(spark,
      Seq((3L, 3L)).toDF("k", "v"), tbl, "overwrite") === 3)
  }

  test("write-audit-publish: a failing audit reclaims staging and publishes nothing") {
    val tbl = Files.createTempDirectory("graft_snap_wap").toString + "/t"
    val even: org.apache.spark.sql.DataFrame => Unit = staged =>
      require(staged.filter(col("v") % 2 =!= 0).isEmpty, "odd v refused")
    SnapTable.commit(spark, Seq((1L, 10L)).toDF("k", "v"),
      tbl, "overwrite", audit = Some(even))
    val ex = intercept[IllegalArgumentException] {
      SnapTable.commit(spark, Seq((2L, 21L)).toDF("k", "v"),
        tbl, "append", audit = Some(even))
    }
    assert(ex.getMessage.contains("odd v refused"))
    assert(SnapTable.versions(spark, tbl) === Seq(1))
    assert(SnapTable.read(spark, tbl).count() === 1L)
    // the refused batch's staging was reclaimed — nothing under data/
    // but v1's own files
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(tbl, "data"))
      .map(_.getPath.getName).toSet
    assert(dirs === SnapTable.files(spark, tbl, 1)
      .map(_.split('/')(1)).toSet)
    // the audit reads STAGED bytes, so a repaired batch passes
    assert(SnapTable.commit(spark, Seq((3L, 30L)).toDF("k", "v"),
      tbl, "append", audit = Some(even)) === 2)
  }

  test("manifest file stats: commit records per-file bounds; filtered reads prune") {
    val tbl = Files.createTempDirectory("graft_snap_stats").toString + "/t"
    // two clustered commits: 4 range-disjoint files each
    def batch(lo: Long): org.apache.spark.sql.DataFrame =
      (lo until lo + 400L).map(k => (k, k * 2)).toDF("k", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions(col("k"))
    SnapTable.commit(spark, batch(0L), tbl, "overwrite",
      statsCols = Seq("k"))
    SnapTable.commit(spark, batch(400L), tbl, "append",
      statsCols = Seq("k"))
    val entries = SnapTable.fileEntries(spark, tbl, 2)
    assert(entries.size === 8)
    assert(entries.forall(_.stats.contains("k")),
      "every committed file must carry recorded bounds for k")
    // bounds are real: they tile [0, 800) without overlap in count
    val spans = entries.map(_.stats("k")).sortBy(_._1)
    assert(spans.head._1 === 0L && spans.last._2 === 799L)
    // a range covering ~2 of 8 files: pruning is manifest text only
    val df = SnapTable.read(spark, tbl).filter(col("k").between(390L, 410L))
    val picked = SnapTable.scannedFiles(df)
    assert(picked.nonEmpty && picked.size < 8, s"no pruning engaged: $picked")
    // and the residual predicate keeps the answer exact
    assert(df.agg(sum("v")).head().getLong(0) ===
      (390L to 410L).map(_ * 2).sum)
    // stats SURVIVE the vacuum checkpoint: retire v1, re-plan on v2
    SnapTable.commit(spark, batch(800L), tbl, "append",
      statsCols = Seq("k"))
    SnapTable.vacuum(spark, tbl, keep = 2)
    val df2 = SnapTable.read(spark, tbl, Some(2))
      .filter(col("k").between(0L, 99L))
    val p2 = SnapTable.scannedFiles(df2)
    assert(p2.size === 1, s"checkpointed stats lost: $p2")
    assert(df2.count() === 100L)
  }

  test("a stat-less file always survives pruning; rewrite carries stats through") {
    val tbl = Files.createTempDirectory("graft_snap_nostat").toString + "/t"
    SnapTable.commit(spark,
      (0L until 100L).map(k => (k, k)).toDF("k", "v").coalesce(1),
      tbl, "overwrite", statsCols = Seq("k"))
    // an old-style commit (no stats) joins the table
    SnapTable.commit(spark,
      (1000L until 1100L).map(k => (k, k)).toDF("k", "v").coalesce(1),
      tbl, "append")
    val df = SnapTable.read(spark, tbl).filter(col("k").between(0L, 50L))
    val picked = SnapTable.scannedFiles(df)
    // the stat-less file cannot be proven out — it must be read
    assert(picked.size === 2, s"absence must admit, never exclude: $picked")
    assert(df.count() === 51L)
    // a rewrite carrying entryLine-formatted lines keeps the bounds
    val head = SnapTable.versions(spark, tbl).last
    val carried = SnapTable.fileEntries(spark, tbl, head)
      .filter(_.stats.contains("k")).map(SnapTable.entryLine)
    SnapTable.commitRewrite(spark,
      (2000L until 2100L).map(k => (k, k)).toDF("k", "v").coalesce(1),
      tbl, carried, statsCols = Seq("k"))
    val e3 = SnapTable.fileEntries(spark, tbl,
      SnapTable.versions(spark, tbl).last)
    assert(e3.size === 2 && e3.forall(_.stats.contains("k")),
      s"stats dropped through the rewrite: $e3")
    val p3 = SnapTable.scannedFiles(
      SnapTable.read(spark, tbl).filter(col("k").between(2000L, 2005L)))
    assert(p3.size === 1, s"rewrite output should plan selectively: $p3")
  }

  test("8-way committer stress: mixed appends and rewrites linearize, zero staging leaked, zero lost rows") {
    val tbl = Files.createTempDirectory("graft_snap_nway").toString + "/t"
    SnapTable.commit(spark, Seq((0L, 0L)).toDF("k", "v"), tbl, "overwrite")
    // 4 appenders (distinct keys) + 4 full-compaction rewriters — the
    // warehouse's worst hour: every rewrite plan goes stale the moment
    // any other committer lands; staleness must cost a retry, never a
    // lost row. Retry counts come back as data (PLANS.md records the
    // distribution from a study run).
    val nApp = 4; val nRew = 4
    val attempts = 64
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(nApp + nRew)
    val gate = new java.util.concurrent.CountDownLatch(nApp + nRew)
    def appender(t: Int) = new java.util.concurrent.Callable[(Int, Int)] {
      def call(): (Int, Int) = {
        gate.countDown(); gate.await()
        var tries = 0
        while (true) {
          tries += 1
          require(tries <= attempts, s"appender $t starved")
          try return (SnapTable.commit(spark,
            Seq((1000L + t, t.toLong)).toDF("k", "v"), tbl, "append"),
            tries - 1)
          catch { case _: ConcurrentCommitException => () }
        }
        (-1, -1) // unreachable
      }
    }
    def rewriter(t: Int) = new java.util.concurrent.Callable[(Int, Int)] {
      def call(): (Int, Int) = {
        gate.countDown(); gate.await()
        var tries = 0
        while (true) {
          tries += 1
          require(tries <= attempts, s"rewriter $t starved")
          val head = SnapTable.versions(spark, tbl).last
          // full compaction: carry nothing, restage the whole state —
          // the plan is stale the moment ANYONE else lands
          val whole = SnapTable.read(spark, tbl, Some(head)).coalesce(1)
          try return (SnapTable.commitRewrite(spark, whole, tbl,
            carried = Nil, expectedHead = Some(head)), tries - 1)
          catch { case _: ConcurrentCommitException => () }
        }
        (-1, -1) // unreachable
      }
    }
    val futures = ((0 until nApp).map(appender) ++
      (0 until nRew).map(rewriter)).map(c => pool.submit(c))
    val results = futures.map(_.get()).toSeq
    pool.shutdown()
    // versions linearize 1..9 with no gaps and no double-claims
    assert(results.map(_._1).sorted === (2 to 9),
      s"versions did not linearize: $results")
    assert(SnapTable.versions(spark, tbl) === (1 to 9))
    info(s"retry distribution (appenders then rewriters): " +
      results.map(_._2).mkString(","))
    // zero lost rows: the seed and every appended key exactly once
    val rows = SnapTable.read(spark, tbl).orderBy("k")
      .as[(Long, Long)].collect().toSeq
    assert(rows === (Seq((0L, 0L)) ++
      (0 until nApp).map(t => (1000L + t, t.toLong))),
      s"the race lost or duplicated rows: $rows")
    // zero staging leaked: every parquet file on disk is referenced
    // by a live manifest (losers reclaimed exactly their own staging)
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val referenced = SnapTable.versions(spark, tbl)
      .flatMap(SnapTable.files(spark, tbl, _)).toSet
    val dataRoot = new org.apache.hadoop.fs.Path(tbl, "data")
    val onDisk = fs.listStatus(dataRoot).flatMap { d =>
      fs.listStatus(d.getPath).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(p => s"data/${d.getPath.getName}/${p.getPath.getName}")
    }.toSet
    assert(onDisk === referenced,
      s"staging leaked or live data missing: ${onDisk diff referenced} / ${referenced diff onDisk}")
  }

  test("partitioned commits: Hive layout in the manifest, pruned reads, per-partition OPTIMIZE, vacuum") {
    val tbl = Files.createTempDirectory("graft_snap_part").toString + "/t"
    def batch(ks: Range) = ks.map(k =>
        (k.toLong, if (k % 2 == 0) "a" else "b", k.toLong * 10))
      .toDF("k", "p", "v").repartition(2)
    SnapTable.commit(spark, batch(0 until 100), tbl, "overwrite",
      statsCols = Seq("k"), partitionBy = Some("p"))
    SnapTable.commit(spark, batch(100 until 200), tbl, "append",
      statsCols = Seq("k"), partitionBy = Some("p"))
    val entries = SnapTable.fileEntries(spark, tbl, 2)
    assert(entries.forall(e => Set("a", "b")
      .contains(e.partitionValues("p"))), entries.map(_.path))
    assert(entries.forall(_.stats.contains("k")),
      "partitioned staging must still record stats")
    // partition-pruned read: only p=a files planned; the partition
    // column comes back typed from the manifest paths
    val df = SnapTable.read(spark, tbl).filter(col("p") === "a")
    val picked = SnapTable.scannedFiles(df)
    assert(picked.nonEmpty && picked.size < entries.size)
    assert(picked.forall(_.contains("p=a")), picked)
    assert(df.columns.contains("p"))
    assert(df.count() === 100L)
    assert(df.agg(sum("v")).head().getLong(0) ===
      (0 until 200 by 2).map(_ * 10L).sum)
    // a live deletion vector on partition a (5 rows), which the
    // OPTIMIZE below must read through, never resurrect
    assert(SnapTable.commitDelete(spark, tbl, "p = 'a' AND k < 10") === 3)
    assert(SnapTable.dvFiles(spark, tbl, 3).nonEmpty)
    // per-partition OPTIMIZE: compact p=a to one file; p=b carried
    // untouched (with its stats); a concurrent-safe rewrite loop
    val bBefore = entries.filter(_.partitionValues("p") == "b")
      .map(_.path).toSet
    SnapTable.rewriteWithRetry(spark, tbl, h => {
      val keep = SnapTable.fileEntries(spark, tbl, h)
        .filterNot(_.partitionValues("p") == "a")
      val compacted = SnapTable.read(spark, tbl, Some(h))
        .filter(col("p") === "a").coalesce(1)
      (compacted, keep.map(SnapTable.entryLine))
    }, statsCols = Seq("k"), partitionBy = Some("p"))
    val e4 = SnapTable.fileEntries(spark, tbl, 4)
    assert(e4.count(_.partitionValues("p") == "a") === 1,
      "OPTIMIZE should leave one file in partition a")
    assert(e4.filter(_.partitionValues("p") == "b")
      .map(_.path).toSet === bBefore,
      "partition b must be carried byte-identical")
    assert(e4.forall(_.stats.contains("k")),
      "stats must survive the per-partition rewrite")
    def deletedStayDeleted(): Unit = {
      assert(SnapTable.read(spark, tbl).filter(col("p") === "a").count() === 95L)
      assert(SnapTable.read(spark, tbl).filter(col("k") < 10 && col("p") === "a")
        .count() === 0L, "OPTIMIZE resurrected deleted rows")
    }
    deletedStayDeleted()
    // vacuum reclaims partition a's pre-OPTIMIZE files but must keep
    // partition b's live files in the SAME (nested) batch dirs
    assert(SnapTable.vacuum(spark, tbl, keep = 1) > 0)
    assert(SnapTable.read(spark, tbl).count() === 195L)
    deletedStayDeleted()
    assert(SnapTable.read(spark, tbl).filter(col("p") === "b")
      .agg(sum("v")).head().getLong(0) ===
      (1 until 200 by 2).map(_ * 10L).sum)
  }

  test("sized manifests: #bytes recorded free; optimizeSized bin-packs from manifest text; history reports it") {
    val tbl = Files.createTempDirectory("graft_snap_sized").toString + "/t"
    // 8 deliberately tiny files, then 1 big one (an already-packed
    // survivor the compactor must leave alone)
    SnapTable.commit(spark,
      (0L until 80L).map(k => (k, k)).toDF("k", "v").repartition(8),
      tbl, "overwrite", statsCols = Seq("k"))
    val big = SnapTable.fileEntries(spark, tbl, 1)
    assert(big.size === 8 && big.forall(_.sizeBytes.exists(_ > 0)),
      "every committed line must carry #bytes")
    val smallMax = big.flatMap(_.sizeBytes).max
    // target above every current file: all 8 are "small" -> pack
    val v2 = SnapTable.optimizeSized(spark, tbl,
      targetBytes = smallMax * 16, statsCols = Seq("k"))
    assert(v2 === 2)
    val packed = SnapTable.fileEntries(spark, tbl, 2)
    assert(packed.size === 1, s"8 smalls should pack into 1: $packed")
    assert(packed.head.stats.contains("k"),
      "packing must re-record stats for the packed output")
    assert(SnapTable.read(spark, tbl).agg(sum("v")).head().getLong(0)
      === (0L until 80L).sum)
    // nothing small left: a second pass is a NO-OP at the same head
    assert(SnapTable.optimizeSized(spark, tbl, smallMax) === 2)
    assert(SnapTable.versions(spark, tbl) === Seq(1, 2))
    // history as data: versions, tags, file counts, recorded bytes
    val h = SnapTable.history(spark, tbl).orderBy("version").collect()
    assert(h.map(r => (r.getLong(0), r.getLong(2))).toSeq ===
      Seq((1L, 8L), (2L, 1L)))
    assert(h.forall(!_.isNullAt(3)), "sized table must report bytes")
  }

  test("optimizeSized on a partitioned table: per-partition packing, cross-partition refusal") {
    val tbl = Files.createTempDirectory("graft_snap_psize").toString + "/t"
    def batch(ks: Range) = ks.map(k =>
        (k.toLong, if (k % 2 == 0) "a" else "b", k.toLong))
      .toDF("k", "p", "v").repartition(4)
    SnapTable.commit(spark, batch(0 until 100), tbl, "overwrite",
      statsCols = Seq("k"), partitionBy = Some("p"))
    val before = SnapTable.fileEntries(spark, tbl, 1)
    val aBefore = before.count(_.partitionValues("p") == "a")
    assert(aBefore >= 2)
    // unpartitioned form must refuse the layout
    val e = intercept[IllegalArgumentException] {
      SnapTable.optimizeSized(spark, tbl, Long.MaxValue / 2)
    }
    assert(e.getMessage.contains("partition"))
    // pack partition a only; b stays byte-identical
    val bBefore = before.filter(_.partitionValues("p") == "b")
      .map(_.path).toSet
    SnapTable.optimizeSized(spark, tbl, Long.MaxValue / 2,
      statsCols = Seq("k"), partition = Some(("p", "a")))
    val after = SnapTable.fileEntries(spark, tbl, 2)
    assert(after.count(_.partitionValues("p") == "a") === 1)
    assert(after.filter(_.partitionValues("p") == "b")
      .map(_.path).toSet === bBefore)
    assert(SnapTable.read(spark, tbl).filter(col("p") === "a")
      .agg(sum("v")).head().getLong(0) ===
      (0 until 100 by 2).map(_.toLong).sum)
  }

  test("a filtered read intersects partition and stats pruning from one manifest") {
    val tbl = Files.createTempDirectory("graft_snap_prr").toString + "/t"
    def batch(ks: Range) = ks.map(k =>
        (k.toLong, if (k % 2 == 0) "a" else "b", k.toLong))
      .toDF("k", "p", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions(col("k"))
    SnapTable.commit(spark, batch(0 until 400), tbl, "overwrite",
      statsCols = Seq("k"), partitionBy = Some("p"))
    val total = SnapTable.fileEntries(spark, tbl, 1).size
    // one partition of two AND one range stripe of four
    val inA = col("p") === "a"
    val inRange = col("k").between(0L, 80L)
    val df = SnapTable.read(spark, tbl).filter(inA && inRange)
    val picked = SnapTable.scannedFiles(df)
    assert(picked.nonEmpty && picked.size < total, s"$picked of $total")
    assert(picked.forall(_.contains("p=a")))
    // strictly tighter than either pruning alone
    val partOnly = SnapTable.scannedFiles(
      SnapTable.read(spark, tbl).filter(inA))
    assert(picked.size < partOnly.size,
      "stats pruning must engage on top of partition pruning")
    assert(df.agg(sum("v")).head().getLong(0) ===
      (0L to 80L by 2).sum)
    // a MIXED table: an un-partitioned (stat-less for p) commit joins;
    // its file is admitted by absence AND its rows must be SCANNED
    // under both residuals, never silently dropped from the plan
    SnapTable.commit(spark,
      Seq((40L, "a", 40L), (41L, "b", 41L), (1000L, "a", 1000L))
        .toDF("k", "p", "v").coalesce(1),
      tbl, "append", statsCols = Seq("k"))
    val df2 = SnapTable.read(spark, tbl).filter(inA && inRange)
    val p2 = SnapTable.scannedFiles(df2)
    assert(p2.size === picked.size + 1,
      "the loose file must be admitted by absence")
    assert(df2.agg(sum("v")).head().getLong(0) ===
      (0L to 80L by 2).sum + 40L,
      "the loose file's matching row must be scanned, not dropped")
  }

  test("streaming ingest with statsCols + partitionBy: the live table is skip- and partition-plannable from birth") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = Files.createTempDirectory("graft_snap_sstats").toString
    val tbl = s"$dir/tbl"
    // three range-disjoint micro-batches land via the REAL drain
    (0 until 3).foreach { i =>
      (i * 100L until (i + 1) * 100L)
        .map(k => (k, if (k % 2 == 0) "a" else "b", k))
        .toDF("k", "p", "v")
        .coalesce(1).write.parquet(f"$dir/in/b$i%05d.parquet")
    }
    graft.streaming.EventStream.orderLanding(spark,
      s"$dir/in/*.parquet", byName = true)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("p", StringType), StructField("v", LongType)))
    graft.streaming.SnapStream.runIngest(spark,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/in/*.parquet"),
      tbl, s"$dir/ckpt", statsCols = Seq("k"), partitionBy = Some("p"))
    val entries = SnapTable.fileEntries(spark, tbl,
      SnapTable.versions(spark, tbl).last)
    assert(entries.size === 6 && entries.forall(_.stats.contains("k")),
      s"streamed commits must record bounds: $entries")
    assert(entries.forall(e => Set("a", "b")
      .contains(e.partitionValues("p"))), entries.map(_.path))
    // skip planning over the live feed: the 120..180 range lives in
    // batch 2 only -> its two partition files of six total
    val inRange = col("k").between(120L, 180L)
    val df = SnapTable.read(spark, tbl).filter(inRange)
    val picked = SnapTable.scannedFiles(df)
    assert(picked.size === 2, s"skip planning over the live feed: $picked")
    assert(df.count() === 61L)
    // partition planning over the live feed composes with the range
    val dfb = SnapTable.read(spark, tbl).filter(col("p") === "a" && inRange)
    val both = SnapTable.scannedFiles(dfb)
    assert(both.size === 1 && both.head.contains("p=a"), both)
    assert(dfb.count() === 31L)
  }

  test("string manifest stats: truncated bounds, conservative pruning on long keys") {
    // the truncation lattice itself
    val long = ("a" * 20).getBytes("UTF-8")
    assert(SnapTable.truncMin(long).length === 16)
    val inc = SnapTable.truncMaxInc(long).get
    assert(inc.length === 16 && inc(15) === ('a' + 1).toByte)
    val allFf = Array.fill(20)(0xFF.toByte)
    assert(SnapTable.truncMaxInc(allFf).isEmpty,
      "un-incrementable truncation must record nothing, not a wrong bound")
    val short = "abc".getBytes("UTF-8")
    assert(SnapTable.truncMaxInc(short).get.toSeq === short.toSeq)
    // table-level: 27-char keys (discriminating digits INSIDE the
    // 16-byte truncation window), bounds truncated yet pruning correct
    val tbl = Files.createTempDirectory("graft_snap_str").toString + "/t"
    val tail = "x" * 20
    val rows = (0 until 200).map(i => (f"u${i}%05d_$tail", i.toLong))
    SnapTable.commit(spark,
      rows.toDF("uid", "v")
        .repartitionByRange(4, col("uid")).sortWithinPartitions(col("uid")),
      tbl, "overwrite", statsCols = Seq("uid"))
    val entries = SnapTable.fileEntries(spark, tbl, 1)
    assert(entries.forall(_.strStats.contains("uid")),
      s"string column must record bounds: $entries")
    // recorded bounds are TRUNCATED (16 bytes; the keys are 27)
    assert(entries.forall { e =>
      val (mn, mx) = e.strStats("uid")
      java.util.Base64.getDecoder.decode(mn).length <= 16 &&
        java.util.Base64.getDecoder.decode(mx).length <= 16
    })
    val df = SnapTable.read(spark, tbl)
      .filter(col("uid").between(f"u${50}%05d", f"u${99}%05d_${"z" * 20}"))
    val picked = SnapTable.scannedFiles(df)
    assert(picked.nonEmpty && picked.size < 4, s"no pruning: $picked")
    assert(df.count() === 50L)
    assert(df.agg(sum("v")).head().getLong(0) === (50L to 99L).sum)
  }

  test("timestamp travel: versionAt resolves from recorded commit instants, not mtimes") {
    val tbl = Files.createTempDirectory("graft_snap_ts").toString + "/t"
    val before = System.currentTimeMillis() - 5
    SnapTable.commit(spark, Seq((1L, 1L)).toDF("k", "v"), tbl, "overwrite")
    Thread.sleep(15)
    val mid = System.currentTimeMillis()
    Thread.sleep(15)
    SnapTable.commit(spark, Seq((2L, 2L)).toDF("k", "v"), tbl, "append")
    assert(SnapTable.commitTimeMs(spark, tbl, 1).isDefined)
    assert(SnapTable.versionAt(spark, tbl, mid) === Some(1))
    assert(SnapTable.versionAt(spark, tbl,
      System.currentTimeMillis() + 1000) === Some(2))
    assert(SnapTable.versionAt(spark, tbl, before) === None)
    // the instants ride in history, ascending
    val ts = SnapTable.history(spark, tbl).orderBy("version")
      .collect().map(_.getLong(4))
    assert(ts.length === 2 && ts(0) <= ts(1))
    // and a TAGGED commit keeps the tag on line one (the tag-scan
    // contract) while still recording its instant
    SnapTable.commitIfAbsent(spark, Seq((3L, 3L)).toDF("k", "v"),
      tbl, "append", "b-7")
    assert(SnapTable.taggedVersion(spark, tbl, "b-7") === Some(3))
    assert(SnapTable.commitTimeMs(spark, tbl, 3).isDefined)
  }

  test("standing CHECK constraint: FALSE refuses and publishes nothing, null passes, rewrites audited") {
    val tbl = Files.createTempDirectory("graft_snap_chk").toString + "/t"
    SnapTable.commit(spark, Seq((1L, 10L)).toDF("k", "v"), tbl, "overwrite")
    SnapTable.setCheck(spark, tbl, "v > 0")
    // a valid append passes under the standing check
    SnapTable.commit(spark, Seq((2L, 5L)).toDF("k", "v"), tbl, "append")
    // a violating append refuses, reclaims, publishes nothing
    intercept[SnapTable.CheckViolationException] {
      SnapTable.commit(spark, Seq((3L, -1L)).toDF("k", "v"), tbl, "append")
    }
    assert(SnapTable.versions(spark, tbl) === Seq(1, 2))
    assert(SnapTable.read(spark, tbl).count() === 2L)
    // SQL CHECK semantics: a NULL predicate passes (only FALSE violates)
    SnapTable.commit(spark,
      Seq((4L, Option.empty[Long])).toDF("k", "v"), tbl, "append")
    assert(SnapTable.versions(spark, tbl) === Seq(1, 2, 3))
    // the check audits REWRITE output too
    intercept[SnapTable.CheckViolationException] {
      SnapTable.commitRewrite(spark,
        Seq((9L, -9L)).toDF("k", "v"), tbl, carried = Nil)
    }
    assert(SnapTable.versions(spark, tbl) === Seq(1, 2, 3))
    // dropping the constraint re-admits what it refused
    SnapTable.clearCheck(spark, tbl)
    SnapTable.commit(spark, Seq((5L, -1L)).toDF("k", "v"), tbl, "append")
    assert(SnapTable.read(spark, tbl).count() === 4L)
    // and no staging leaked from the refusals: every on-disk parquet
    // is referenced by a live manifest
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val referenced = SnapTable.versions(spark, tbl)
      .flatMap(SnapTable.files(spark, tbl, _)).toSet
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(tbl, "data"))
      .flatMap { d =>
        fs.listStatus(d.getPath).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(p => s"data/${d.getPath.getName}/${p.getPath.getName}")
      }.toSet
    assert(onDisk === referenced, s"staging leaked: ${onDisk diff referenced}")
  }

  test("vacuumOlderThan: retention by AGE from recorded instants; filesDf is the metadata table") {
    val tbl = Files.createTempDirectory("graft_snap_age").toString + "/t"
    SnapTable.commit(spark, Seq((1L, 1L)).toDF("k", "v"), tbl,
      "overwrite", statsCols = Seq("k"))
    SnapTable.commit(spark, Seq((2L, 2L)).toDF("k", "v"), tbl,
      "append", statsCols = Seq("k"))
    Thread.sleep(15)
    val cut = System.currentTimeMillis()
    Thread.sleep(15)
    SnapTable.commit(spark, Seq((3L, 3L)).toDF("k", "v"), tbl,
      "append", statsCols = Seq("k"))
    // v1 and v2 predate the cutoff and retire; v3's chain crossed the
    // horizon, so the checkpoint + reference counting keep its DATA
    // whole while the old manifests (the promised-history surface) go
    SnapTable.vacuumOlderThan(spark, tbl, cut)
    assert(SnapTable.versions(spark, tbl) === Seq(3))
    assert(SnapTable.read(spark, tbl).count() === 3L)
    // a cutoff in the future still keeps minKeep (the head survives)
    SnapTable.vacuumOlderThan(spark, tbl,
      System.currentTimeMillis() + 100000)
    assert(SnapTable.versions(spark, tbl) === Seq(3))
    assert(SnapTable.read(spark, tbl).count() === 3L)
    // the files metadata table: one row per file, with size + bounds
    val fdf = SnapTable.filesDf(spark, tbl)
    assert(fdf.count() === 3L)
    val r = fdf.orderBy("path").collect()
    assert(r.forall(!_.isNullAt(2)), "size_bytes must be recorded")
    assert(r.forall(_.getMap[String, String](3).get("k").isDefined),
      "recorded k bounds must surface in the metadata table")
  }

  test("readRange and readIncremental of a partitioned table carry the typed partition column") {
    val tbl = Files.createTempDirectory("graft_snap_pcol").toString + "/t"
    def batch(ks: Range) = ks.map(k => (k.toLong, k % 2L, k * 10L))
      .toDF("k", "p", "v")
    SnapTable.commit(spark, batch(0 until 100), tbl, "overwrite",
      partitionBy = Some("p"))
    SnapTable.commit(spark, batch(100 until 200), tbl, "append",
      partitionBy = Some("p"))
    val (_, rr) = SnapTable.readRange(spark, tbl, None, "k", 10L, 20L)
    assert(rr.columns.toSeq === Seq("k", "v", "p"))
    assert(rr.schema("p").dataType === LongType)
    assert(rr.filter(col("p") === 1L).count() === 5L)
    val (fresh, inc) = SnapTable.readIncremental(spark, tbl, 1, 2)
    assert(fresh.nonEmpty && fresh.forall(_.startsWith("data/b2-")))
    assert(inc.columns.toSeq === Seq("k", "v", "p"))
    assert(inc.schema("p").dataType === LongType)
    assert(inc.agg(sum("p")).head().getLong(0) === 50L)
  }

  /** The manifest-backed file scans in a frame's physical plan. */
  private def snapScans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
          if f.relation.location.isInstanceOf[SnapFileIndex] => f
    }

  private def unions(df: DataFrame) =
    df.queryExecution.sparkPlan.collect { case u: UnionExec => u }

  test("plan shape: a filtered read of a uniform snapshot plans one file scan and no Union") {
    val tbl = Files.createTempDirectory("graft_snap_shape").toString + "/t"
    val rows = (0L until 160L).map(k => (k, if (k % 2 == 0) "a" else "b", k))
      .toDF("k", "p", "v")
      .repartitionByRange(8, col("k")).sortWithinPartitions(col("k"))
    SnapTable.commit(spark, rows, tbl, "overwrite",
      statsCols = Seq("k"), partitionBy = Some("p"))
    val total = SnapTable.files(spark, tbl, 1).size
    val q = SnapTable.read(spark, tbl).filter(col("k").between(10L, 20L))
    assert(snapScans(q).size === 1 && unions(q).isEmpty)
    val admitted = SnapTable.scannedFiles(q)
    assert(admitted.nonEmpty && admitted.size < total,
      s"${admitted.size} of $total")
    // deletion vectors apply per relation: still one scan, and the
    // range still prunes under the anti-join
    SnapTable.commitDelete(spark, tbl, "v = 15")
    val q2 = SnapTable.read(spark, tbl).filter(col("k").between(10L, 20L))
    assert(snapScans(q2).size === 1 && unions(q2).isEmpty)
    assert(SnapTable.scannedFiles(q2) === admitted)
    assert(q2.count() === 10L)
    // an unpartitioned snapshot reads through the same single relation
    val flat = Files.createTempDirectory("graft_snap_shapef").toString + "/t"
    SnapTable.commit(spark, rows.drop("p"), flat, "overwrite",
      statsCols = Seq("k"))
    val qf = SnapTable.read(spark, flat).filter(col("k") <= 5L)
    assert(snapScans(qf).size === 1 && unions(qf).isEmpty)
    assert(SnapTable.scannedFiles(qf).size === 1)
  }

  test("plan shape: a mixed partitioned/loose history plans exactly two scans, both pruning on stats") {
    val tbl = Files.createTempDirectory("graft_snap_mixed").toString + "/t"
    def rows = (0L until 200L).map(k => (k, if (k % 2 == 0) "a" else "b", k))
      .toDF("k", "p", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions(col("k"))
    SnapTable.commit(spark, rows, tbl, "overwrite",
      statsCols = Seq("k"), partitionBy = Some("p"))
    // the loose append carries p in its files
    SnapTable.commit(spark, rows, tbl, "append", statsCols = Seq("k"))
    val q = SnapTable.read(spark, tbl).filter(col("k").between(10L, 20L))
    val scans = snapScans(q)
    assert(scans.size === 2 && unions(q).size === 1)
    scans.foreach { f =>
      val held = f.relation.location.asInstanceOf[SnapFileIndex].entries.size
      val admitted = f.selectedPartitions.totalNumberOfFiles
      assert(admitted >= 1 && admitted < held, s"$admitted of $held")
    }
    assert(q.count() === 22L)
    assert(q.filter(col("p") === "a").agg(sum("k")).head().getLong(0) ===
      2 * (10L to 20L by 2).sum)
  }

  test("partition values needing Hive escaping (and null) survive the path roundtrip") {
    val tbl = Files.createTempDirectory("graft_snap_esc").toString + "/t"
    // ':', space, '%' all percent-escape in the Hive path; null lands
    // as __HIVE_DEFAULT_PARTITION__
    val df = Seq((1L, "a:b"), (2L, "c d"), (3L, "e%f"), (4L, null))
      .toDF("k", "p")
    SnapTable.commit(spark, df, tbl, "overwrite", partitionBy = Some("p"))
    // the manifest surfaces RAW values, not escaped path text
    val vals = SnapTable.fileEntries(spark, tbl, 1)
      .flatMap(_.partitionValues.get("p")).toSet
    assert(vals === Set("a:b", "c d", "e%f", SnapTable.NullPartition))
    // a partition filter matches caller-supplied raw values
    val out = SnapTable.read(spark, tbl).filter(col("p").isin("a:b", "c d"))
    assert(SnapTable.scannedFiles(out).size === 2)
    assert(out.orderBy("k").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a:b"), (2L, "c d")))
    // the null partition prunes as a real null
    val on = SnapTable.read(spark, tbl).filter(col("p").isNull)
    assert(SnapTable.scannedFiles(on).size === 1)
    val nr = on.collect()
    assert(nr.length === 1 && nr(0).getLong(0) === 4L && nr(0).isNullAt(1))
    // full read() reconstructs the column for every row
    val full = SnapTable.read(spark, tbl).orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.getString(1))))
    assert(full.toSeq === Seq((1L, Some("a:b")), (2L, Some("c d")),
      (3L, Some("e%f")), (4L, None)))
  }

  test("typed partition column: declared type rides the manifest and survives every read path") {
    val tbl = Files.createTempDirectory("graft_snap_ptyp").toString + "/t"
    val df = (1L to 40L).map(i => (i, i % 4)).toDF("k", "f")
    SnapTable.commit(spark, df, tbl, "overwrite",
      statsCols = Seq("k"), partitionBy = Some("f"))
    assert(SnapTable.partSpecOf(spark, tbl, 1) ===
      Some(("f", org.apache.spark.sql.types.LongType)))
    // read(): one relation, typed partition column, numeric semantics
    val r = SnapTable.read(spark, tbl)
    assert(r.schema("f").dataType === org.apache.spark.sql.types.LongType)
    assert(r.filter(col("f") > 2L).count() === 10L)
    // a partition-pruned read keeps the type
    val rp = SnapTable.read(spark, tbl).filter(col("f") === 3L)
    assert(SnapTable.scannedFiles(rp).forall(_.contains("/f=3/")))
    assert(rp.schema("f").dataType === org.apache.spark.sql.types.LongType)
    assert(rp.agg(sum("f")).head().getLong(0) === 30L)
    // OPTIMIZE of one partition preserves the declared type
    SnapTable.optimizeSized(spark, tbl, targetBytes = 1L << 20,
      statsCols = Seq("k"), partition = Some(("f", "1")))
    val r2 = SnapTable.read(spark, tbl)
    assert(r2.schema("f").dataType === org.apache.spark.sql.types.LongType)
    assert(r2.count() === 40L &&
      r2.agg(sum("f")).head().getLong(0) === df.agg(sum("f")).head().getLong(0))
    // the header survives vacuum's checkpoint across the horizon
    SnapTable.commit(spark, df.limit(5), tbl, "append",
      partitionBy = Some("f"))
    SnapTable.vacuum(spark, tbl, keep = 1)
    assert(SnapTable.partSpecOf(spark, tbl,
      SnapTable.versions(spark, tbl).last) ===
      Some(("f", org.apache.spark.sql.types.LongType)))
  }

  test("checkpointNow: a cadenced head checkpoint short-circuits the walk, retires nothing") {
    val tbl = Files.createTempDirectory("graft_snap_ckpt").toString + "/t"
    (1 to 5).foreach { i =>
      SnapTable.commit(spark, Seq((i.toLong, i.toLong)).toDF("k", "v"),
        tbl, if (i == 1) "overwrite" else "append",
        statsCols = Seq("k"))
    }
    val before = SnapTable.fileEntries(spark, tbl, 5)
    SnapTable.checkpointNow(spark, tbl)
    // pure addition: every version still readable, list unchanged
    // (stats included — the checkpoint carries full lines)
    assert(SnapTable.versions(spark, tbl) === Seq(1, 2, 3, 4, 5))
    val after = SnapTable.fileEntries(spark, tbl, 5)
    assert(after.map(SnapTable.entryLine).sorted ===
      before.map(SnapTable.entryLine).sorted)
    assert(SnapTable.read(spark, tbl, Some(3)).count() === 3L)
    // the walk now short-circuits at the head: retire the MID-CHAIN
    // manifests out-of-band and the head must still resolve
    val fs = new org.apache.hadoop.fs.Path(tbl).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    (1 to 4).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(tbl,
        f"manifest-v$v%05d.txt"), false)
    }
    assert(SnapTable.fileEntries(spark, tbl, 5).size === before.size)
    assert(SnapTable.read(spark, tbl).count() === 5L)
    // and appends continue on top of the checkpointed head
    SnapTable.commit(spark, Seq((9L, 9L)).toDF("k", "v"), tbl, "append")
    assert(SnapTable.read(spark, tbl).count() === 6L)
  }

  test("tagScanDepth: replay within the window is idempotent; the bound is a real contract") {
    val tbl = Files.createTempDirectory("graft_snap_tagd").toString + "/t"
    (1 to 5).foreach { i =>
      SnapTable.commitIfAbsent(spark,
        Seq((i.toLong, i.toLong)).toDF("k", "v"), tbl,
        if (i == 1) "overwrite" else "append", s"tag-$i",
        tagScanDepth = 3)
    }
    assert(SnapTable.versions(spark, tbl) === Seq(1, 2, 3, 4, 5))
    // a replayed RECENT tag (within depth) appends nothing
    assert(SnapTable.commitIfAbsent(spark,
      Seq((5L, 5L)).toDF("k", "v"), tbl, "append", "tag-5",
      tagScanDepth = 3) === 5)
    assert(SnapTable.read(spark, tbl).count() === 5L)
    // the bound is REAL: a tag older than the scan depth is not
    // found and re-appends — exactly why arbitrary-age tags must
    // keep the unbounded default
    val v6 = SnapTable.commitIfAbsent(spark,
      Seq((1L, 1L)).toDF("k", "v"), tbl, "append", "tag-1",
      tagScanDepth = 3)
    assert(v6 === 6 && SnapTable.read(spark, tbl).count() === 6L)
    // unbounded finds it regardless of age
    assert(SnapTable.commitIfAbsent(spark,
      Seq((2L, 2L)).toDF("k", "v"), tbl, "append", "tag-2") === 2)
  }

  test("diff: I/D/U emitted, unchanged suppressed") {
    val old = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
    val neu = Seq((2L, 20L), (3L, 31L), (4L, 40L)).toDF("k", "v")
    val got = SnapTable.diff(old, neu, "k", "v")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
        r.getString(3)))
    assert(got === Array(
      (1L, Some(10L), None, "D"),
      (3L, Some(30L), Some(31L), "U"),
      (4L, None, Some(40L), "I")))
  }
}
