package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Pixel-plane operators over decoded RGB byte planes
  * ([[MediaExprs.pngRgb]] output: `w*h*3` row-major bytes) — the
  * vision-preprocessing steps (center crop, nearest-neighbor resize,
  * channel statistics) a multimodal training ingest runs between
  * decode and the trainer. Each is one native codegen'd call: the
  * pixel loops stay inside the scan-stage whole-stage-codegen span,
  * no UDF boundary, no per-pixel row explosion — and every output is
  * integer-derived, so the DuckDB oracle recomputes each value from
  * the same file bytes.
  *
  * Nearest-neighbor uses FLOOR index mapping (`src = dst * n DIV
  * out`), the deterministic integer variant every engine replays
  * exactly; production bilinear differs only in the kernel, not the
  * plumbing. "Normalize" is the mean in parts-per-million
  * (`sum * 1e6 DIV count`) — integer division of integer sums, the
  * cross-engine-safe stand-in for float mean/std scaling.
  */
object RgbExprs {

  private val Plane = Seq(BinaryType, LongType, LongType)

  /** Centered square crop with side `min(w, h)` of a `w*h*3` RGB
    * plane; NULL when the plane's length disagrees with (w, h). Any
    * integral dims column is cast to long here. */
  def rgbCenterCrop(rgb: Column, w: Column, h: Column): Column =
    NativeCall.column("rgb_center_crop", RgbOps, "centerCrop", BinaryType,
      Plane)(rgb, w.cast("long"), h.cast("long"))

  /** Nearest-neighbor resize of a `w*h*3` plane to `outW x outH`. */
  def rgbResize(rgb: Column, w: Column, h: Column,
      outW: Int, outH: Int): Column = {
    require(outW > 0 && outH > 0 && outW.toLong * outH * 3 <= Int.MaxValue,
      s"resize target out of range: ${outW}x$outH")
    NativeCall.column("rgb_resize", RgbOps, "resize", BinaryType,
      Plane ++ Seq(IntegerType, IntegerType))(
      rgb, w.cast("long"), h.cast("long"), lit(outW), lit(outH))
  }

  /** `array<long>` of 8: channel sums (r, g, b), pixel count, and a
    * 4-bin luminance histogram (`(299r+587g+114b) DIV 1000 DIV 64`). */
  def rgbStats(rgb: Column): Column =
    NativeCall.column("rgb_stats", RgbOps, "stats",
      ArrayType(LongType, containsNull = false), Seq(BinaryType))(rgb)

  /** Classic uncompressed-DIB frame (BOTTOM-UP BGR rows padded to
    * 4-byte boundaries — BITMAPINFOHEADER with positive biHeight,
    * biCompression BI_RGB) to the family's top-down `w*h*3` RGB
    * plane; NULL when the byte length disagrees with the stride
    * layout. The raw-video twin of [[MediaExprs.pngRgb]]. */
  def dibRgb(dib: Column, w: Column, h: Column): Column =
    NativeCall.column("dib_rgb", RgbOps, "dibToRgb", BinaryType,
      Plane)(dib, w.cast("long"), h.cast("long"))
}

object RgbOps extends Serializable {

  /** Per-side cap: keeps `3*w*h` inside Int range (the plane-length
    * guard would otherwise wrap for hostile column values and let an
    * out-of-bounds copy throw instead of returning NULL). */
  val MaxSide = 1 << 20

  private def sideOk(w: Long, h: Long): Boolean =
    w > 0 && h > 0 && w <= MaxSide && h <= MaxSide

  /** Centered `side x side` crop, side = min(w, h); null when the
    * plane length does not match `w*h*3` (dims and plane must come
    * from the same decode). */
  def centerCrop(b: Array[Byte], wl: Long, hl: Long): Array[Byte] = {
    if (!sideOk(wl, hl) || b.length.toLong != 3L * wl * hl) return null
    val w = wl.toInt; val h = hl.toInt
    val side = math.min(w, h)
    val x0 = (w - side) / 2
    val y0 = (h - side) / 2
    val out = new Array[Byte](side * side * 3)
    var y = 0
    while (y < side) {
      System.arraycopy(b, ((y0 + y) * w + x0) * 3, out, y * side * 3, side * 3)
      y += 1
    }
    out
  }

  /** Nearest-neighbor resize with floor index mapping:
    * `srcX = dstX * w DIV outW` (and likewise for rows). */
  def resize(b: Array[Byte], wl: Long, hl: Long, outW: Int, outH: Int): Array[Byte] = {
    if (!sideOk(wl, hl) || b.length.toLong != 3L * wl * hl) return null
    val w = wl.toInt; val h = hl.toInt
    val out = new Array[Byte](outW * outH * 3)
    var y = 0
    while (y < outH) {
      val sy = y * h / outH
      var x = 0
      while (x < outW) {
        val sx = x * w / outW
        val src = (sy * w + sx) * 3
        val dst = (y * outW + x) * 3
        out(dst) = b(src); out(dst + 1) = b(src + 1); out(dst + 2) = b(src + 2)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Bottom-up padded-stride BGR → top-down packed RGB: row `y` of
    * the output reads storage row `h-1-y`, channels swap B↔R, the
    * per-row padding (stride − 3w bytes) drops. Null when the buffer
    * is not exactly `stride*h` bytes for `stride = 4*ceil(3w/4)`. */
  def dibToRgb(b: Array[Byte], wl: Long, hl: Long): Array[Byte] = {
    if (!sideOk(wl, hl)) return null
    val w = wl.toInt; val h = hl.toInt
    val stride = (3 * w + 3) / 4 * 4
    if (b.length.toLong != stride.toLong * h) return null
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val src = (h - 1 - y) * stride
      var x = 0
      while (x < w) {
        val sp = src + 3 * x
        val dp = (y * w + x) * 3
        out(dp) = b(sp + 2); out(dp + 1) = b(sp + 1); out(dp + 2) = b(sp)
        x += 1
      }
      y += 1
    }
    out
  }

  /** [sumR, sumG, sumB, nPixels, lumBin0..lumBin3] with luminance
    * `(299r + 587g + 114b) DIV 1000` binned at width 64. Null for a
    * plane whose length is not a multiple of 3. */
  def stats(b: Array[Byte]): GenericArrayData = {
    if (b.length % 3 != 0) return null
    var sr = 0L; var sg = 0L; var sb = 0L
    val bins = new Array[Long](4)
    var i = 0
    while (i < b.length) {
      val r = b(i) & 0xff; val g = b(i + 1) & 0xff; val bl = b(i + 2) & 0xff
      sr += r; sg += g; sb += bl
      bins(((299 * r + 587 * g + 114 * bl) / 1000) >> 6) += 1
      i += 3
    }
    new GenericArrayData(Array(sr, sg, sb, (b.length / 3).toLong,
      bins(0), bins(1), bins(2), bins(3)))
  }
}
