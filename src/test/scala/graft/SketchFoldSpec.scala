package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.functions.{HashParity, NativeAgg, SimHashFold}
import graft.ops.Dedup

/** The sketch folds against the spellings they replaced: the MinHash
  * signature as k `min` aggregates, the LSH bands as `h60(concat_ws)`
  * structs, and SimHash as 60 `sum(when)` counters, which are the
  * spellings the DuckDB oracles replay. Every input is spread over
  * four partitions with one empty and with documents split across
  * partitions, so partial folds merge; the comparison runs once more
  * with Spark's sort-based fallback forced after two keys. */
class SketchFoldSpec extends SparkSpec {

  // ---- the reference spellings --------------------------------------------

  private def refSignatures(sh: DataFrame, k: Int): DataFrame = {
    val aggs = (0 until k).map { i =>
      min((lit(HashParity.minhashA(i)) * col("hg") + lit(HashParity.minhashB(i)))
        % HashParity.MinhashP).as(s"h$i")
    }
    sh.withColumn("hg", HashParity.h28(col("g")))
      .groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  private def refBands(sig: DataFrame, k: Int, bandSize: Int): DataFrame = {
    val bands = (0 until k / bandSize).map { j =>
      struct(lit(j).as("band"),
        HashParity.h60(concat_ws(",",
          (j * bandSize until (j + 1) * bandSize).map(i => col(s"h$i")): _*))
          .as("bh"))
    }
    sig.select(col("id"), explode(array(bands: _*)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  private def refSimhash(df: DataFrame): DataFrame = {
    val tok = graft.core.Par.widen(df)
      .select(col("doc_id").as("id"),
        explode(graft.ops.TextAnalysis.tokens(col("text"))).as("t"))
      .withColumn("th", HashParity.h60(col("t")))
    val counters = (0 until Dedup.SimhashBits).map { b =>
      sum(when(shiftrightunsigned(col("th"), b).bitwiseAND(1L) === 1L, 1L)
        .otherwise(-1L)).as(s"b$b")
    }
    val assembled = (0 until Dedup.SimhashBits)
      .map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    tok.groupBy(col("id")).agg(counters.head, counters.tail: _*)
      .select(col("id"), assembled.as("simhash"))
  }

  // ---- inputs -------------------------------------------------------------

  private val rnd = new scala.util.Random(20261021L)
  private val vocab = Seq("a", "b", "c", "d", "e", "f", "g", "h")

  /** 60 documents over an 8-word vocabulary, so shingles repeat within
    * and across documents; every 6th has exactly 3 tokens (one
    * shingle), and every 10th is a copy of the one before it. */
  private val docs: Seq[(Long, String)] = {
    val texts = (0 until 60).foldLeft(Vector.empty[String]) { (acc, i) =>
      val n = if (i % 6 == 0) 3 else 3 + rnd.nextInt(14)
      acc :+ (if (i % 10 == 9) acc.last
              else Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  /** `rows` dealt round-robin over partitions 0, 1 and 3 of four. */
  private def dealt[T](rows: Seq[T]): Seq[Seq[T]] = {
    val live = Seq(0, 1, 3)
    (0 until 4).map(p => rows.zipWithIndex.collect {
      case (r, i) if live(i % live.size) == p => r
    })
  }

  private def frame(s: SparkSession, parts: Seq[Seq[(Long, String)]],
      id: String, text: String): DataFrame = {
    val rdd = s.sparkContext.parallelize(parts.indices, parts.size)
      .flatMap(parts(_)).map { case (a, b) => Row(a, b) }
    s.createDataFrame(rdd, StructType(Seq(
      StructField(id, LongType, nullable = false), StructField(text, StringType))))
  }

  /** Shingle rows (id, g), each document's rows dealt over three
    * partitions, repeated rows included. */
  private def shingles(s: SparkSession): DataFrame = {
    val rows = docs.flatMap { case (id, t) =>
      val gs = t.split(' ').toSeq.sliding(3).map(_.mkString(" ")).toSeq
      (gs :+ gs.head).map(g => (id, g))
    }
    frame(s, dealt(rows), "id", "g")
  }

  /** The documents with every 4th one split in two rows under one id,
    * dealt so the halves land in different partitions. */
  private def docFrame(s: SparkSession): DataFrame = {
    val rows = docs.flatMap { case (id, t) =>
      val w = t.split(' ')
      if (id % 4 == 0 && w.length > 3) {
        val (x, y) = w.splitAt(w.length / 2)
        Seq((id, x.mkString(" ")), (id, y.mkString(" ")))
      } else Seq((id, t))
    }
    frame(s, dealt(rows), "doc_id", "text")
  }

  private def parts(df: DataFrame): Seq[Int] =
    df.rdd.mapPartitions(it => Iterator.single(it.size)).collect().toSeq

  // ---- the comparisons ------------------------------------------------------

  private def sigs(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  private def refSigs(df: DataFrame, k: Int): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong)).toMap

  private def bandRows(df: DataFrame): Seq[(Long, Int, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted

  private def matchesReference(s: SparkSession): Unit = {
    val sh = shingles(s)
    val d = docFrame(s)
    assert(parts(sh).map(_ > 0) === Seq(true, true, false, true))
    assert(parts(d).map(_ > 0) === Seq(true, true, false, true))

    val sig = Dedup.minhashSignatures(sh, 64)
    val ref = refSignatures(sh, 64)
    val got = sigs(sig)
    assert(got.size === docs.size)
    assert(got === refSigs(ref, 64))

    assert(sig.schema("sig").dataType.sql === "ARRAY<BIGINT>")
    val bands = Dedup.lshBands(sig, 64, 4)
    assert(bands.schema.map(_.dataType) === Seq(LongType, IntegerType, LongType))
    assert(bandRows(bands) === bandRows(refBands(ref, 64, 4)))
    assert(bandRows(bands).size === docs.size * 16)
    // a band split that leaves slots unused bands only the leading ones
    assert(bandRows(Dedup.lshBands(Dedup.minhashSignatures(sh, 12), 12, 5)) ===
      bandRows(refBands(refSignatures(sh, 12), 12, 5)))

    val sim = Dedup.simhash(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sim.size === docs.size)
    assert(sim === refSimhash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("MinHash signatures, LSH bands and SimHash match the k-expression spellings row for row") {
    matchesReference(spark)
  }

  test("they match under the sort-based aggregation fallback too") {
    val f = Bridge.cloneSession(spark)
    f.conf.set("spark.sql.TungstenAggregate.testFallbackStartsAt", "2, 3")
    matchesReference(f)
  }

  test("a NativeAgg takes bigint input only; equal folds give sameSemantics frames") {
    val df = spark.range(10).select((col("id") % 3).as("k"), col("id"),
      col("id").cast("string").as("s"))
    val e = intercept[AnalysisException](
      df.groupBy("k").agg(NativeAgg.column("simhash_counters", SimHashFold(4))(col("s"))))
    assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    def counters(bits: Int) =
      df.groupBy("k").agg(NativeAgg.column("simhash_counters", SimHashFold(bits))(col("id")))
    assert(counters(4).sameSemantics(counters(4)))
    assert(!counters(4).sameSemantics(counters(5)))
    // k = 0 holds 0, 3, 6, 9: bit 0 set in 3 and 9, bit 1 in 3 and 6,
    // bit 2 in 6, bit 3 in 9
    assert(counters(4).filter(col("k") === 0).collect().head.getSeq[Long](1) ===
      Seq(0L, 0L, -2L, -2L))
  }
}
