package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.apache.spark.sql.functions._
import graft.etl.SalesTransform
import graft.report.{Overlap, RunRecords}
import graft.streaming.EventStream

/** ScalaCheck property tests for the quirky semantics flagged in
  * SURVEY §5/§7.4. Each sample spins Spark jobs, so successful-test
  * counts are kept small.
  */
abstract class SparkProperties(name: String) extends Properties(name) {
  lazy val spark = TestSpark.spark
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)
}

object LineDedupProps extends SparkProperties("linededup") {
  import spark.implicits._

  // tiny line alphabet forces cross-doc duplicates; padded and CRLF
  // variants hash trim-equal; blanks exercise shape preservation
  private val genDocs: Gen[List[String]] =
    Gen.choose(1, 6).flatMap { n =>
      Gen.listOfN(n, Gen.choose(0, 5).flatMap(k =>
        Gen.listOfN(k, Gen.oneOf(
          "alpha line", "beta line", "gamma", "",
          "  alpha line ", "beta line\r")).map(_.mkString("\n"))))
    }

  private def trimmed(l: String): String =
    l.replaceAll("^[ \r]+|[ \r]+$", "")

  property("kept nonblank lines == distinct trimmed lines, exactly once each") =
    Prop.forAll(genDocs) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val rows = graft.ops.Dedup.lineDedupReport(df, "text", "doc_id")
        .collect()
      val expectedDistinct = docs.flatMap(_.split("\n", -1))
        .map(trimmed).filter(_.nonEmpty).toSet
      val keptTotal = rows.map(r =>
        r.getAs[Long]("n_lines") - r.getAs[Long]("n_dup_lines")).sum
      val keptLines = rows.flatMap(_.getAs[String]("clean_text")
        .split("\n", -1)).map(trimmed).filter(_.nonEmpty).toSeq
      keptTotal == expectedDistinct.size.toLong &&
        keptLines.sorted == expectedDistinct.toSeq.sorted &&
        rows.map(_.getAs[Long]("n_lines")).sum ==
          docs.flatMap(_.split("\n", -1)).map(trimmed).count(_.nonEmpty).toLong
    }
}

object OverlapProps extends SparkProperties("overlap") {
  import spark.implicits._

  private val genEvents: Gen[List[(Long, Long, String, Double)]] =
    Gen.choose(2, 25).flatMap { n =>
      Gen.listOfN(n, for {
        ts <- Gen.choose(0L, 3000000000L) // 0..50min in us
        key <- Gen.oneOf("a", "b")
        durSec <- Gen.choose(0, 600) // 0 = the zero-length-run guard
      } yield (ts, key, durSec.toDouble))
    }.map(_.zipWithIndex.map { case ((ts, k, d), i) => (i.toLong, ts, k, d) })

  property("binned plan == naive plan") = Prop.forAll(genEvents) { evs =>
    val df = evs.toDF("event_id", "ts_us", "event_type", "value")
    val a = Overlap.naive(df).collect().map(_.toSeq).toSeq
    val b = Overlap.binned(df, binUs = 60000000L).collect().map(_.toSeq).toSeq
    a == b
  }

  property("bounds: 0 <= ratio <= n_key - 1 (test/README.md:20)") =
    Prop.forAll(genEvents) { evs =>
      val df = evs.toDF("event_id", "ts_us", "event_type", "value")
      val nPerKey = evs.groupBy(_._3).view.mapValues(_.size).toMap
      val keyOf = evs.map(e => e._1 -> e._3).toMap
      Overlap.naive(df).collect().forall { r =>
        val ratio = r.getDouble(2)
        ratio >= 0.0 && ratio <= (nPerKey(keyOf(r.getLong(0))) - 1).toDouble + 1e-9
      }
    }
}

object DedupProps extends SparkProperties("dedup") {
  import spark.implicits._

  private val genRows: Gen[List[(Long, Long, Long)]] =
    Gen.choose(1, 40).flatMap { n =>
      Gen.listOfN(n, for {
        key <- Gen.choose(0L, 5L)
        ord <- Gen.choose(0L, 10L)
        v <- Gen.choose(0L, 100L)
      } yield (key, ord, v))
    }

  property("first-wins keeps exactly the minimum-ordered row per key") =
    Prop.forAll(genRows) { rows =>
      val df = rows.toDF("k", "ord", "v")
      val got = SalesTransform.dedupFirstWins(df, "k", Seq("ord", "v"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = rows.groupBy(_._1).values.map(_.minBy(t => (t._2, t._3))).toSet
      got == want
    }
}

object JaccardProps extends SparkProperties("jaccard") {
  import spark.implicits._

  // tiny vocab + short docs: shingle collisions everywhere
  private val genDocs: Gen[List[(Long, String)]] =
    Gen.choose(2, 10).flatMap { nd =>
      Gen.listOfN(nd, Gen.choose(3, 7).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c")).map(_.mkString(" "))))
        .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    }

  private def shingles(t: String): Set[String] = {
    val w = t.split(" ")
    (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
  }

  property("inverted-index pairs == brute-force jaccard (cap + topK included)") =
    Prop.forAll(genDocs, Gen.oneOf(2L, 100L)) { (docs, maxDf) =>
      val got = graft.ops.Dedup.jaccardPairs(
          docs.toDF("doc_id", "text"), "text", "doc_id",
          n = 3, maxDf = maxDf, topK = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
      // brute force with the SAME declared semantics: distinct
      // shingles, df-capped index, pairs sharing >=1 surviving shingle
      val sh = docs.map { case (id, t) => id -> shingles(t) }
        .filter(_._2.nonEmpty)
      val df = sh.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
      val keep: Set[String] = df.filter(_._2 <= maxDf).keySet.toSet
      val capped = sh.map { case (id, g) => id -> g.intersect(keep) }
        .filter(_._2.nonEmpty).toMap
      val want = (for {
        (i1, g1) <- capped; (i2, g2) <- capped if i1 < i2
        shared = g1.intersect(g2).size if shared > 0
      } yield (i1, i2, shared.toLong, g1.size.toLong, g2.size.toLong,
        shared.toDouble / (g1.size + g2.size - shared))).toSeq
        .sortBy { case (a, b, _, _, _, j) => (-j, a, b) }.take(5)
      got == want
    }
}

object MinhashProps extends SparkProperties("minhash") {
  import spark.implicits._

  private val genDocs: Gen[List[String]] =
    Gen.choose(1, 6).flatMap(nd =>
      Gen.listOfN(nd, Gen.choose(3, 8).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))))

  property("identical documents are ALWAYS LSH candidates (dup recall = 1)") =
    Prop.forAll(genDocs) { texts =>
      // plant an exact duplicate of every doc
      val docs = texts.zipWithIndex.flatMap { case (t, i) =>
        Seq((i * 2L, t), (i * 2L + 1L, t))
      }
      val sh = graft.ops.Dedup.wordShingles(
        docs.toDF("doc_id", "text"), "text", "doc_id", 3)
      val cands = graft.ops.Dedup.minhashCandidates(
          graft.ops.Dedup.lshBands(
            graft.ops.Dedup.minhashSignatures(sh, 64), 64, 4))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      texts.indices.forall { i =>
        cands.contains((i * 2L, i * 2L + 1L))
      }
    }
}

object RunRecordProps extends SparkProperties("runrecords") {
  import spark.implicits._

  property("union-fill: schema is key union, absent cells get the sentinel") =
    Prop.forAll(Gen.choose(1, 10), Gen.choose(1, 10)) { (n1, n2) =>
      val a = (1 to n1).map(i => (i.toLong, i * 10L)).toDF("id", "x")
      val b = (1 to n2).map(i => (i + 100L, i * 20L)).toDF("id", "y")
      val u = RunRecords.unionFill(Seq(a, b))
      val rows = u.collect()
      u.columns.toSet == Set("id", "x", "y") &&
        rows.count(_.getLong(u.columns.indexOf("x")) == RunRecords.Sentinel) == n2 &&
        rows.count(_.getLong(u.columns.indexOf("y")) == RunRecords.Sentinel) == n1
    }
}

object SessionProps extends SparkProperties("sessionize") {
  import spark.implicits._

  private val genTs: Gen[List[Long]] =
    Gen.choose(2, 30).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 10000L)))

  property("session index increments exactly on gaps > gapUs") =
    Prop.forAll(genTs) { tss =>
      val gap = 100L
      val evs = tss.distinct.sorted.zipWithIndex
        .map { case (ts, i) => (1L, i.toLong, ts) }
      val df = evs.toDF("user_id", "event_id", "ts_us")
      val got = EventStream.sessionizeBatch(df, gap)
        .orderBy("ts_us").select("ts_us", "session_idx")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = got.map(_._1).scanLeft((0L, -1L, true)) {
        case ((idx, prev, first), ts) =>
          if (first) (0L, ts, false)
          else if (ts - prev > gap) (idx + 1, ts, false)
          else (idx, ts, false)
      }.drop(1).map(_._1)
      got.map(_._2).toSeq == want.toSeq
    }
}

object AsofProps extends SparkProperties("asof") {
  import spark.implicits._

  private val genSides: org.scalacheck.Gen[(List[(Long, Long, Long)], List[(Long, Long, Long)])] =
    for {
      nl <- Gen.choose(1, 20)
      nr <- Gen.choose(0, 20)
      mk = (base: Int) => (i: Int) => for {
        key <- Gen.choose(1L, 3L)
        ts <- Gen.choose(0L, 50L) // small domain to force ts collisions
      } yield ((base + i).toLong, key, ts)
      l <- Gen.sequence[List[(Long, Long, Long)], (Long, Long, Long)](
        (0 until nl).map(mk(100)).toList)
      r <- Gen.sequence[List[(Long, Long, Long)], (Long, Long, Long)](
        (0 until nr).map(mk(500)).toList)
    } yield (l, r)

  /** Brute-force oracle: for each left row, the right row with max
    * (ts, event_id) among those with same key and ts <= left ts. */
  private def brute(l: List[(Long, Long, Long)], r: List[(Long, Long, Long)]) =
    l.map { case (id, k, ts) =>
      val m = r.filter(x => x._2 == k && x._3 <= ts)
        .sortBy(x => (x._3, x._1)).lastOption
      id -> m.map(x => (x._1, x._3))
    }.toMap

  /** Forward brute-force oracle: min (ts, event_id) among at-or-after. */
  private def bruteFwd(l: List[(Long, Long, Long)], r: List[(Long, Long, Long)]) =
    l.map { case (id, k, ts) =>
      val m = r.filter(x => x._2 == k && x._3 >= ts)
        .sortBy(x => (x._3, x._1)).headOption
      id -> m.map(x => (x._1, x._3))
    }.toMap

  property("forward mode == brute-force earliest-at-or-after") =
    Prop.forAll(genSides) { case (l, r) =>
      val got = graft.ops.AsofJoin.asofJoin(
          l.toDF("event_id", "user_id", "ts_us"),
          r.toDF("event_id", "user_id", "ts_us"),
          key = "user_id", ts = "ts_us", tie = "event_id",
          leftOut = Seq("event_id"), rightOut = Seq("event_id", "ts_us"),
          forward = true)
        .collect().map(row => row.getLong(0) -> (
          if (row.isNullAt(1)) None else Some((row.getLong(1), row.getLong(2)))))
        .toMap
      got == bruteFwd(l, r)
    }

  /** Tie-saturated generator: timestamps from a 4-value domain over a
    * single key, so nearly every sample has equal-ts collisions within
    * each side AND across sides — the b714fe4 tie semantics (backward:
    * an equal-ts right row matches, max event_id wins among equal ts;
    * forward: equal-ts matches too, min event_id wins) are exercised
    * on every run rather than only when the wide domain happens to
    * collide. */
  private val genTieSides: org.scalacheck.Gen[(List[(Long, Long, Long)], List[(Long, Long, Long)])] =
    for {
      nl <- Gen.choose(2, 12)
      nr <- Gen.choose(2, 12)
      mk = (base: Int) => (i: Int) => for {
        ts <- Gen.choose(0L, 3L)
      } yield ((base + i).toLong, 1L, ts)
      l <- Gen.sequence[List[(Long, Long, Long)], (Long, Long, Long)](
        (0 until nl).map(mk(100)).toList)
      r <- Gen.sequence[List[(Long, Long, Long)], (Long, Long, Long)](
        (0 until nr).map(mk(500)).toList)
    } yield (l, r)

  private def runAsof(l: List[(Long, Long, Long)], r: List[(Long, Long, Long)],
      forward: Boolean): Map[Long, Option[(Long, Long)]] =
    graft.ops.AsofJoin.asofJoin(
        l.toDF("event_id", "user_id", "ts_us"),
        r.toDF("event_id", "user_id", "ts_us"),
        key = "user_id", ts = "ts_us", tie = "event_id",
        leftOut = Seq("event_id"), rightOut = Seq("event_id", "ts_us"),
        forward = forward)
      .collect().map(row => row.getLong(0) -> (
        if (row.isNullAt(1)) None else Some((row.getLong(1), row.getLong(2)))))
      .toMap

  property("equal-ts ties, backward: at-ts matches; max tie id wins") =
    Prop.forAll(genTieSides) { case (l, r) =>
      runAsof(l, r, forward = false) == brute(l, r)
    }

  property("equal-ts ties, forward: at-ts matches; min tie id wins") =
    Prop.forAll(genTieSides) { case (l, r) =>
      runAsof(l, r, forward = true) == bruteFwd(l, r)
    }

  private def runAsofBucketed(l: List[(Long, Long, Long)],
      r: List[(Long, Long, Long)], forward: Boolean,
      width: Long): Map[Long, Option[(Long, Long)]] =
    graft.ops.AsofJoin.asofJoinBucketed(
        l.toDF("event_id", "user_id", "ts_us"),
        r.toDF("event_id", "user_id", "ts_us"),
        key = "user_id", ts = "ts_us", tie = "event_id",
        leftOut = Seq("event_id"), rightOut = Seq("event_id", "ts_us"),
        bucketWidth = width, forward = forward)
      .collect().map(row => row.getLong(0) -> (
        if (row.isNullAt(1)) None else Some((row.getLong(1), row.getLong(2)))))
      .toMap

  property("hot-key bucketed plan == single-window plan (widths 1, 7, 1000)") =
    Prop.forAll(genSides, Gen.oneOf(1L, 7L, 1000L), Gen.oneOf(false, true)) {
      case ((l, r), width, fwd) =>
        runAsofBucketed(l, r, fwd, width) == runAsof(l, r, fwd)
    }

  property("bucketed equal-ts ties match, both directions") =
    Prop.forAll(genTieSides, Gen.oneOf(false, true)) { case ((l, r), fwd) =>
      runAsofBucketed(l, r, fwd, 2L) == runAsof(l, r, fwd)
    }

  property("union+window plan == brute-force backward as-of") =
    Prop.forAll(genSides) { case (l, r) =>
      val got = graft.ops.AsofJoin.asofJoin(
          l.toDF("event_id", "user_id", "ts_us"),
          r.toDF("event_id", "user_id", "ts_us"),
          key = "user_id", ts = "ts_us", tie = "event_id",
          leftOut = Seq("event_id"), rightOut = Seq("event_id", "ts_us"))
        .collect().map(row => row.getLong(0) -> (
          if (row.isNullAt(1)) None else Some((row.getLong(1), row.getLong(2)))))
        .toMap
      got == brute(l, r)
    }
}

object PackProps extends SparkProperties("pack") {
  import spark.implicits._

  private val genDocs: Gen[List[(Long, Int)]] =
    Gen.choose(1, 60).flatMap { nd =>
      Gen.listOfN(nd, Gen.choose(1, 40)).map(_.zipWithIndex
        .map { case (nw, i) => (i.toLong, nw) })
    }

  private def df(docs: List[(Long, Int)]) =
    docs.map { case (id, nw) =>
      (id, Seq.fill(nw)("w").mkString(" "))
    }.toDF("doc_id", "text")

  property("every doc packed once; bins overflow only by their last doc") =
    Prop.forAll(genDocs, Gen.choose(8L, 64L)) { (docs, budget) =>
      val per = graft.ops.Pack.assignPacks(df(docs), "text", "doc_id",
          budget = budget, nShards = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val allOnce = per.map(_._1).sorted.toSeq == docs.map(_._1).sorted
      val bound = per.groupBy(r => (r._3, r._4)).values.forall { rows =>
        val t = rows.map(_._2)
        t.sum - t.max < budget
      }
      allOnce && bound
    }

  property("no-span: packs never exceed budget; exact parity with the greedy walk") =
    Prop.forAll(genDocs, Gen.choose(8L, 64L)) { (docs, budget) =>
      val per = graft.ops.Pack.assignPacksNoSpan(
          df(docs).select(col("doc_id").as("id"),
            graft.ops.Pack.whitespaceTokens(col("text")).as("toks")),
          "id", col("toks"), budget = budget, nShards = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val allOnce = per.map(_._1).sorted.toSeq == docs.map(_._1).sorted
      // multi-doc packs bounded (a SINGLETON pack may legally exceed
      // the budget — that is exactly the oversized-doc-alone rule, so
      // there is nothing to assert for it)
      val bound = per.groupBy(r => (r._3, r._4)).values
        .filter(_.length > 1)
        .forall(rows => rows.map(_._2).sum <= budget)
      // driver-side greedy replay over the md5 layout order
      val parity = per.groupBy(_._3).values.forall { rows =>
        val ordered = rows.sortBy(r =>
          (graft.functions.HashParity.md5Hex(r._1.toString), r._1))
        var pack = 0L; var filled = 0L; var first = true; var ok = true
        ordered.foreach { case (_, t, _, p) =>
          if (first) { filled = t; first = false }
          else if (filled + t <= budget) filled += t
          else { pack += 1L; filled = t }
          ok &&= (p == pack)
        }
        ok
      }
      allOnce && bound && parity
    }
}

object DecontaminateProps extends SparkProperties("decontaminate") {
  import spark.implicits._

  // tiny vocab forces n-gram collisions between corpus and eval
  private val genTexts: Gen[(List[(Long, String)], List[(Long, String)])] =
    for {
      nc <- Gen.choose(1, 12)
      ne <- Gen.choose(1, 3)
      word = Gen.oneOf("a", "b", "c")
      mk = (base: Int) => (i: Int) => Gen.choose(3, 8).flatMap(len =>
        Gen.listOfN(len, word).map(ws => ((base + i).toLong, ws.mkString(" "))))
      c <- Gen.sequence[List[(Long, String)], (Long, String)](
        (0 until nc).map(mk(0)).toList)
      e <- Gen.sequence[List[(Long, String)], (Long, String)](
        (0 until ne).map(mk(100)).toList)
    } yield (c, e)

  private def trigrams(t: String): Set[String] = {
    val w = t.split(" ")
    (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
  }

  property("best-match ratio equals brute-force eval-coverage") =
    Prop.forAll(genTexts) { case (c, e) =>
      val got = graft.ops.Decontaminate.overlapReport(
          c.toDF("doc_id", "text"), e.toDF("doc_id", "text"),
          "text", "doc_id", "doc_id", n = 3, flagAt = 0.5)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getDouble(4)))))
        .toMap
      val want = c.map { case (id, t) =>
        val cg = trigrams(t)
        val overlaps = e.map { case (eid, et) =>
          val eg = trigrams(et)
          (eid, cg.intersect(eg).size.toDouble / eg.size)
        }.filter(_._2 > 0)
        id -> (if (overlaps.isEmpty) None
               else Some(overlaps.minBy { case (eid, r) => (-r, eid) }))
      }.toMap
      got == want
    }
}

object ComponentsProps extends SparkProperties("components") {
  import spark.implicits._

  /** Graphs of 2-20 nodes mixing random edges, a chain over a random
    * subset (either direction, so union order varies), a star, and
    * repeats of all three; random edges and the star's center may be
    * self edges, and nodes on no edge stay isolated. */
  private val genGraph: Gen[(Int, List[(Long, Long)])] =
    for {
      n <- Gen.choose(2, 20)
      ids = (0L until n.toLong).toList
      random <- Gen.choose(0, 12).flatMap(Gen.listOfN(_,
        Gen.zip(Gen.oneOf(ids), Gen.oneOf(ids))))
      k <- Gen.choose(0, n)
      picked <- Gen.pick(k, ids)
      down <- Gen.oneOf(false, true)
      chainIds = if (down) picked.sorted.reverse.toList else picked.toList
      center <- Gen.oneOf(ids)
      leaves <- Gen.someOf(ids)
      es = random ++ chainIds.zip(chainIds.drop(1)) ++ leaves.map(center -> _)
      dups <- Gen.someOf(es)
    } yield (n, es ++ dups)

  /** Brute-force union-find oracle. */
  private def brute(n: Int, es: List[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  // both paths: connectedComponents takes the driver path at these
  // sizes, distributedComponents is the loop past the driver bound
  property("min-label propagation == union-find") =
    Prop.forAll(genGraph) { case (n, es) =>
      val nodes = (0L until n.toLong).toDF("id")
      val edges = es.toDF("id1", "id2")
      def labels(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = brute(n, es)
      labels(graft.ops.Components.connectedComponents(nodes, edges)) == want &&
        labels(graft.ops.Components.distributedComponents(nodes, edges)) == want
    }
}

object BudgetProps extends SparkProperties("budget") {
  import spark.implicits._

  private val genDocs: Gen[(List[(Long, Long, Long)], Long)] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      score <- Gen.choose(0L, 4L) // few strata: cutoff lands mid-stratum often
      toks <- Gen.choose(1L, 9L)
    } yield (score, toks))
    budget <- Gen.choose(0L, 200L)
  } yield (rows.zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) },
    budget)

  property("stratum plan == global-window brute force") =
    Prop.forAll(genDocs) { case (docs, budget) =>
      val got = graft.ops.Budget.select(
        docs.toDF("id", "score", "n_tokens"), "id", "score", "n_tokens",
        budget).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("keep")).toMap
      var cum = 0L
      val want = docs.sortBy { case (id, s, _) => (-s, id) }.map {
        case (id, _, t) =>
          val keep = if (cum < budget) 1L else 0L
          cum += t
          id -> keep
      }.toMap
      got == want
    }
}

object MediaBytesProps extends SparkProperties("mediabytes") {
  // pure-JVM properties (no Spark jobs), so samples are cheap —
  // raise the count above the Spark-backed suites' 8
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(40)

  private val genPng = for {
    w <- Gen.choose(1, 12)
    h <- Gen.choose(1, 10)
    pixels <- Gen.containerOfN[Array, Byte](w * h * 3,
      Gen.choose(Byte.MinValue, Byte.MaxValue))
    filters <- Gen.listOfN(h, Gen.choose(0, 4))
    nIdat <- Gen.choose(1, 4)
  } yield (w, h, pixels, filters, nIdat)

  property("PNG decode inverts ANY filtered Deflater encoding") =
    Prop.forAll(genPng) { case (w, h, pixels, filters, nIdat) =>
      val png = PngTestVectors.filteredPng(w, h, pixels, filters, nIdat)
      val got = graft.functions.PngRgb.decode(png)
      got != null && java.util.Arrays.equals(got, pixels)
    }

  property("resize to the same dims is the identity; square crop is the identity") =
    Prop.forAll(Gen.choose(1, 9), Gen.choose(1, 9)) { (w, h) =>
      val b = Array.tabulate(w * h * 3)(i => ((i * 41 + 3) % 256).toByte)
      val same = graft.functions.RgbOps.resize(b, w, h, w, h)
      val sq = Array.tabulate(w * w * 3)(i => ((i * 17 + 5) % 256).toByte)
      java.util.Arrays.equals(same, b) &&
        java.util.Arrays.equals(
          graft.functions.RgbOps.centerCrop(sq, w, w), sq)
    }

  property("rgb stats equal the brute-force fold") =
    Prop.forAll(Gen.choose(1, 60)) { n =>
      val b = Array.tabulate(n * 3)(i => ((i * i * 7 + 13) % 256).toByte)
      val st = graft.functions.RgbOps.stats(b).toLongArray()
      val px = b.grouped(3).map(p =>
        (p(0) & 0xff, p(1) & 0xff, p(2) & 0xff)).toSeq
      val lums = px.map { case (r, g, bl) => (299 * r + 587 * g + 114 * bl) / 1000 }
      st(0) == px.map(_._1.toLong).sum &&
        st(1) == px.map(_._2.toLong).sum &&
        st(2) == px.map(_._3.toLong).sum &&
        st(3) == n.toLong &&
        (0 to 3).forall(k => st(4 + k) == lums.count(_ / 64 == k).toLong)
    }

  private val genWav = for {
    rate <- Gen.oneOf(8000, 16000, 22050, 44100)
    ch <- Gen.choose(1, 3)
    n <- Gen.choose(1, 400)
    samples <- Gen.containerOfN[Array, Short](n * ch,
      Gen.choose(Short.MinValue, Short.MaxValue))
    junk <- Gen.choose(0, 10)
  } yield (rate, ch, n, samples, junk)

  /** Generic test-side WAV writer (arbitrary samples, `junk` extra
    * even-sized chunks before data). */
  private def wav(rate: Int, ch: Int, samples: Array[Short],
      junkChunks: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def u32(v: Int): Unit = { u16(v & 0xffff); u16((v >>> 16) & 0xffff) }
    def cc(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    val dataLen = samples.length * 2
    val junkLen = junkChunks * (8 + 6)
    cc("RIFF"); u32(4 + 24 + junkLen + 8 + dataLen); cc("WAVE")
    cc("fmt "); u32(16); u16(1); u16(ch); u32(rate)
    u32(rate * ch * 2); u16(ch * 2); u16(16)
    (0 until junkChunks).foreach { _ =>
      cc("JUNK"); u32(6); cc("filler")
    }
    cc("data"); u32(dataLen)
    samples.foreach(s => u16(s & 0xffff))
    out.toByteArray
  }

  property("WAV parse recovers exact PCM statistics for ANY sample content") =
    Prop.forAll(genWav) { case (rate, ch, n, samples, junk) =>
      val got = graft.functions.WavInfo.parse(wav(rate, ch, samples, junk))
      val abs = samples.map(s => math.abs(s.toInt).toLong)
      got != null && {
        val a = got.toLongArray()
        a(0) == rate.toLong && a(1) == ch.toLong && a(2) == 16L &&
          a(3) == n.toLong && a(4) == abs.sum && a(5) == abs.max &&
          a(6) == abs.count(_ >= 32000).toLong
      }
    }
}

object SemDedupProps extends SparkProperties("semdedup") {
  import spark.implicits._

  // groups of EXACT duplicates on orthogonal axes: within-group sims
  // are exactly 1, cross-group sims exactly 0 — so the duplicate-pair
  // set is fully determined by the grouping, identical vectors always
  // share a sign-sketch bucket (the repair's reachability is certain),
  // and random ids exercise arbitrary cell assignments
  private val genCorpus: Gen[(List[(Long, Seq[Float])], Long, Int)] =
    for {
      nGroups <- Gen.choose(1, 4)
      sizes <- Gen.listOfN(nGroups, Gen.choose(1, 6))
      ids <- Gen.pick(sizes.sum, 0L until 40L)
      cap <- Gen.choose(1L, 5L)
      k <- Gen.oneOf(1, 2)
    } yield {
      val vecs = sizes.zipWithIndex.flatMap { case (s, g) =>
        Seq.fill(s)(Seq.tabulate(4)(d => if (d == g) 1.0f else 0.0f))
      }
      (ids.toList.zip(vecs), cap, k)
    }

  private def runReport(rows: List[(Long, Seq[Float])], cap: Long, k: Int,
      bits: Int): Map[Long, (Long, Long)] =
    graft.core.CacheScope.withScope {
      graft.ops.SemDedup.report(rows.toDF("vec_id", "embedding"),
          eps = 0.9, nClusters = k, iters = 1, maxClusterSize = cap,
          repairBits = bits)._1
        .collect()
        .map(r => r.getLong(0) ->
          (r.getAs[Long]("dup_of"), r.getAs[Long]("keep"))).toMap
    }

  property("repaired sub-split == unsplit on exact-duplicate corpora, any cap") =
    Prop.forAll(genCorpus) { case (rows, cap, k) =>
      val unsplit = runReport(rows, cap = 1L << 16, k, bits = 8)
      val repaired = runReport(rows, cap, k, bits = 8)
      repaired == unsplit
    }

  property("repair-off degradation is ONE-SIDED: every cheap dup is a true dup") =
    Prop.forAll(genCorpus) { case (rows, cap, k) =>
      val unsplit = runReport(rows, cap = 1L << 16, k, bits = 8)
      val cheap = runReport(rows, cap, k, bits = 0)
      cheap.forall { case (id, (dupOf, keep)) =>
        keep == 1L || (unsplit(id)._2 == 0L && dupOf >= unsplit(id)._1)
      }
    }
}

object WinnowProps extends SparkProperties("winnow") {
  import spark.implicits._

  // two docs over disjoint alphabets with a planted shared run of
  // EXACTLY k + w - 1 tokens from a third alphabet — the boundary
  // case of the paper's guarantee, at random positions and lengths
  private val genDocs: Gen[(String, String)] =
    for {
      n1 <- Gen.choose(0, 12)
      n2 <- Gen.choose(0, 12)
      m1 <- Gen.choose(0, 12)
      m2 <- Gen.choose(0, 12)
      runSeed <- Gen.choose(0, 1000)
    } yield {
      val run = (0 until 6).map(i => s"run${runSeed}x$i") // k+w-1 = 6
      val d1 = ((1 to n1).map(i => s"a$i") ++ run ++
        (1 to m1).map(i => s"b$i")).mkString(" ")
      val d2 = ((1 to n2).map(i => s"c$i") ++ run ++
        (1 to m2).map(i => s"d$i")).mkString(" ")
      (d1, d2)
    }

  property("a shared k+w-1-token run ALWAYS yields a shared fingerprint") =
    Prop.forAll(genDocs) { case (d1, d2) =>
      val fp = graft.ops.Winnow.fingerprints(
          Seq((1L, d1), (2L, d2)).toDF("doc_id", "text"),
          "text", "doc_id", k = 3, w = 4)
        .collect().groupBy(_.getLong(0))
        .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
      (fp(1L) intersect fp(2L)).nonEmpty
    }
}

object CdcProps extends SparkProperties("cdc") {
  import spark.implicits._

  private val genDoc: Gen[List[String]] =
    Gen.choose(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 30).map(i => s"t$i")))

  property("chunks PARTITION the token stream: counts sum, indices dense") =
    Prop.forAll(genDoc) { toks =>
      val ch = graft.ops.Cdc.chunks(
          Seq((1L, toks.mkString(" "))).toDF("doc_id", "text"),
          "text", "doc_id", divisor = 4)
        .collect()
      ch.map(_.getLong(3)).sum == toks.length.toLong &&
        ch.map(_.getLong(1)).sorted.toSeq == (0L until ch.length).toSeq
    }

  property("insertion locality: all chunks off the edit neighborhood survive") =
    Prop.forAll(genDoc, Gen.choose(0, 59)) { (toks, at0) =>
      val at = math.min(at0, toks.length)
      val edited = toks.take(at) ++ List("INSERTED") ++ toks.drop(at)
      def hashes(id: Long, ts: List[String]) = graft.ops.Cdc.chunks(
          Seq((id, ts.mkString(" "))).toDF("doc_id", "text"),
          "text", "doc_id", divisor = 4)
        .collect().map(_.getString(2)).toSet
      val a = hashes(1L, toks)
      val b = hashes(2L, edited)
      // only the chunk containing the insertion point can change:
      // at most 2 hashes differ per side (the edited chunk, plus one
      // when INSERTED is itself a boundary and splits it)
      (a diff b).size <= 2 && (b diff a).size <= 2
    }
}
