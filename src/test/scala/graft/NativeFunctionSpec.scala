package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.util.sketch.BloomFilter

import graft.functions._
import graft.sources.{MediaCorpus, TarShards}

/** Every native function, table-driven: a wrong-typed input fails at
  * analysis, the call stays inside whole-stage codegen under its own
  * name, equal inputs give `sameSemantics` frames, and interpreted
  * evaluation answers as the generated code does. */
class NativeFunctionSpec extends SparkSpec {

  /** One native function: `call` over a frame of [[frame]]'s columns,
    * with kernel inputs built afresh on each call; `wrong` puts a
    * wrong-typed column where the function wants another type. */
  private case class Native(name: String, call: () => Column, wrong: () => Column)

  // more pieces than a plan prints fields: the plan must show the
  // call, not the vocabulary
  private def vocab = Seq(" the", " quick", "the", "fox") ++ ('a' to 'z').map(_.toString)
  private def merges = Seq(("t", "h"), ("th", "e"), (" ", "the"))
  private def byteMerges = Seq(("t", "h"), ("th", "e"), ("Ġ", "the"))
  private def bloom = {
    val b = BloomFilter.create(100, 0.01)
    b.putString("quick brown")
    b
  }
  private def comps = Seq(Array(1L, 2L), Array(3L, -4L))

  /** Binary column: `bytes` on row 0, junk after it (the kernels
    * answer NULL or a salvaged prefix for junk, never throw). */
  private def blob(bytes: Array[Byte]): Column =
    when(col("id") === 0, lit(bytes)).otherwise(lit("junk".getBytes("US-ASCII")))

  private val (pw, ph) = MediaCorpus.pixelDims(2)
  private val (dw, dh) = MediaCorpus.dibDims(1)
  private def png = blob(MediaCorpus.pngPixelBytes(2))
  private val long = col("id")

  private val natives = Seq(
    Native("bpe_token_count", () => BpeExprs.tokenCountFast(col("s"), vocab),
      () => BpeExprs.tokenCountFast(long, vocab)),
    Native("bpe_tokenize", () => BpeExprs.tokenizeFast(col("s"), vocab),
      () => BpeExprs.tokenizeFast(long, vocab)),
    Native("bpe_merge_token_count", () => MergeExprs.mergeTokenCount(col("s"), merges),
      () => MergeExprs.mergeTokenCount(long, merges)),
    Native("bpe_merge_tokenize", () => MergeExprs.mergeTokenize(col("s"), merges),
      () => MergeExprs.mergeTokenize(long, merges)),
    Native("byte_bpe_token_count", () => ByteBpeExprs.byteTokenCount(col("s"), byteMerges),
      () => ByteBpeExprs.byteTokenCount(long, byteMerges)),
    Native("byte_bpe_tokenize", () => ByteBpeExprs.byteTokenize(col("s"), byteMerges),
      () => ByteBpeExprs.byteTokenize(long, byteMerges)),
    Native("byte_bpe_token_ids", () => ByteBpeExprs.byteTokenIds(col("s"), byteMerges),
      () => ByteBpeExprs.byteTokenIds(long, byteMerges)),
    Native("byte_bpe_decode", () => ByteBpeExprs.byteDecodeIds(col("ids"), byteMerges),
      () => ByteBpeExprs.byteDecodeIds(col("s"), byteMerges)),
    Native("png_rgb", () => MediaExprs.pngRgb(png), () => MediaExprs.pngRgb(long)),
    Native("image_packed_dims", () => MediaExprs.imageDims(png),
      () => MediaExprs.imageDims(col("s"))),
    Native("rgb_center_crop",
      () => RgbExprs.rgbCenterCrop(MediaExprs.pngRgb(png), lit(pw) + long * 0, lit(ph)),
      () => RgbExprs.rgbCenterCrop(long, lit(pw), lit(ph))),
    Native("rgb_resize",
      () => RgbExprs.rgbResize(MediaExprs.pngRgb(png), lit(pw) + long * 0, lit(ph), 4, 4),
      () => RgbExprs.rgbResize(long, lit(pw), lit(ph), 4, 4)),
    Native("rgb_stats", () => RgbExprs.rgbStats(MediaExprs.pngRgb(png)),
      () => RgbExprs.rgbStats(long)),
    Native("dib_rgb",
      () => RgbExprs.dibRgb(blob(MediaCorpus.dibFrameBytes(1, 0)), lit(dw), lit(dh)),
      () => RgbExprs.dibRgb(col("s"), lit(dw), lit(dh))),
    Native("avi_meta", () => AviExprs.aviMeta(blob(MediaCorpus.aviBytes(1))),
      () => AviExprs.aviMeta(long)),
    Native("avi_frames", () => AviExprs.aviFrames(blob(MediaCorpus.aviBytes(1))),
      () => AviExprs.aviFrames(long)),
    Native("tar_entries", () => TarExprs.tarEntries(blob(TarShards.shardBytes(0))),
      () => TarExprs.tarEntries(long)),
    Native("wav_info", () => WavExprs.wavInfo(blob(MediaCorpus.wavBytes(1))),
      () => WavExprs.wavInfo(col("s"))),
    Native("nfc_normalize", () => NormExprs.nfc(col("s")), () => NormExprs.nfc(long)),
    Native("shingle_bloom_contains",
      () => BloomExprs.shingleMightOverlap(col("s"), 2, bloom),
      () => BloomExprs.shingleMightOverlap(long, 2, bloom)),
    Native("dot_product", () => VectorExprs.dotFast(col("v"), col("v")),
      () => VectorExprs.dotFast(long, long)),
    Native("pca_project_all", () => VectorExprs.pcaProjectAll(col("v"), comps),
      () => VectorExprs.pcaProjectAll(col("s"), comps)),
    Native("interleave_bits", () => ZOrderExprs.interleaveBits(long, long + 1),
      () => ZOrderExprs.interleaveBits(col("v"), long)),
    Native("lsh_bands", () => SketchExprs.lshBands(array(long, long * 7, long - 2, lit(5L)), 2, 2),
      () => SketchExprs.lshBands(col("s"), 2, 2)),
    Native("simhash_bits", () => SketchExprs.simhashBits(array(long - 1, lit(-1L), long)),
      () => SketchExprs.simhashBits(col("v"))))

  /** Three rows of every input type, none foldable: the calls plan as
    * a Project over Range, not as constants. */
  private def frame(s: SparkSession): DataFrame = s.range(3).select(
    col("id"),
    concat(lit("the quick brown fox é "), col("id").cast("string")).as("s"),
    array(col("id").cast("double") / 4, lit(1.5)).as("v"),
    array(col("id").cast("int"), lit(77), lit(220)).as("ids"))

  test("the table covers every native function") {
    assert(natives.map(_.name).distinct.size === 25)
  }

  natives.foreach { n =>
    test(s"${n.name}: a wrong-typed input fails at analysis") {
      val e = intercept[AnalysisException](frame(spark).select(n.wrong()))
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    }

    test(s"${n.name}: one codegen'd call, named in the plan; equal inputs, same semantics") {
      val df = frame(spark).select(n.call().as("out"))
      val plan = df.queryExecution.executedPlan.toString
      val stage = plan.linesIterator.find(_.contains("Project ["))
      assert(stage.exists(_.matches("""^\s*\*\(\d+\) Project \[.*""")), plan)
      assert(stage.exists(_.contains(s"${n.name}(")), plan)
      assert(!plan.contains("more fields"), plan)
      assert(df.sameSemantics(frame(spark).select(n.call().as("out"))))
      assert(df.collect().length === 3)
    }
  }

  test("interpreted evaluation answers as the generated code does") {
    val interp = Bridge.cloneSession(spark)
    interp.conf.set("spark.sql.codegen.wholeStage", "false")
    interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    def answers(s: SparkSession): Seq[String] = frame(s)
      .select(to_json(struct(natives.zipWithIndex.map { case (n, i) =>
        n.call().as(s"c$i")
      }: _*)).as("j"), col("id"))
      .orderBy("id").collect().map(_.getString(0)).toSeq
    val generated = answers(spark)
    assert(generated.exists(_.contains("\"c8\""))) // png_rgb decoded row 0
    assert(answers(interp) === generated)
  }
}
