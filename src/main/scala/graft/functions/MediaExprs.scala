package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, LongType}

/** Header-level image dimension parsing as a native codegen'd
  * function over an opaque `binary` media column — the metadata
  * pass a training-data ingest runs over every blob BEFORE any pixel
  * work is scheduled (filter by size/aspect, plan resizes, route to
  * decoders). Both formats are parsed from their public container
  * structure (PNG IHDR per RFC 2083 §4.1.1; JPEG SOF per ITU T.81
  * B.2.2 via a real marker-segment walk), no codec dependency.
  * Malformed or unrecognized bytes yield NULL, not an exception —
  * at corpus scale a poison blob must not kill the scan stage.
  */
object MediaExprs {

  /** Packed `(width << 32) | height` of a PNG or JPEG blob; NULL for
    * anything else. Packing keeps the result one long; unpack with
    * [[width]] / [[height]]. */
  def imageDims(c: Column): Column =
    NativeCall.column("image_packed_dims", ImagePackedDims, "dims",
      LongType, Seq(BinaryType))(c)

  def width(packed: Column): Column =
    org.apache.spark.sql.functions.shiftright(packed, 32)

  def height(packed: Column): Column =
    packed.bitwiseAND(org.apache.spark.sql.functions.lit(0xffffffffL))

  /** Decoded RGB bytes (`width*height*3`, row-major) of an 8-bit
    * truecolor PNG — a REAL pixel decode on the JVM's own zlib
    * ([[java.util.zip.Inflater]]), no codec dependency: chunk walk →
    * concatenated IDAT inflate → scanline unfilter (all five RFC 2083
    * filter types). NULL for anything that is not a well-formed 8-bit
    * color-type-2 non-interlaced PNG. */
  def pngRgb(c: Column): Column =
    NativeCall.column("png_rgb", PngRgb, "decode", BinaryType, Seq(BinaryType))(c)
}

object PngRgb extends Serializable {

  /** Decoded `w*h*3` RGB bytes, or null. Supports exactly the
    * still-dominant corpus shape (8-bit truecolor, non-interlaced);
    * anything else — or any malformed byte — degrades to null, never
    * throws (a poison blob must not kill a 100 TB scan stage). */
  def decode(b: Array[Byte]): Array[Byte] = {
    if (b.length < 33) return null
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    var i = 0
    while (i < 8) { if ((b(i) & 0xff) != sig(i)) return null; i += 1 }
    if (!typeAt(b, 12, "IHDR")) return null
    val w = be32(b, 16)
    val h = be32(b, 20)
    // bit depth 8, color type 2 (truecolor), default compression and
    // filtering, no interlace
    if (w <= 0 || h <= 0 || b(24) != 8 || b(25) != 2 ||
      b(26) != 0 || b(27) != 0 || b(28) != 0) return null
    // cap decoded size: pixel work at this layer is for small/medium
    // images; a multi-GB claim is corruption or abuse
    if (w.toLong * h * 3 > MaxPixelBytes) return null
    // chunk walk: concatenate IDAT payloads in order. The bounds
    // check (and therefore the advance) is Long-guarded: a hostile
    // ~2^31 length field would wrap the Int sum past the guard and
    // drive pos negative (the TarEntries lesson — ByteReads.fits is
    // the shared fix)
    val idat = new java.io.ByteArrayOutputStream()
    var pos = 8
    var ended = false
    while (!ended && pos + 8 <= b.length) {
      val len = be32(b, pos)
      if (!ByteReads.fits(b, pos, 12, len)) return null
      if (typeAt(b, pos + 4, "IDAT")) idat.write(b, pos + 8, len)
      if (typeAt(b, pos + 4, "IEND")) ended = true
      pos += 12 + len
    }
    if (idat.size == 0) return null
    val stride = 1 + 3 * w
    val raw = new Array[Byte](h * stride)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return null
        off += n
      }
      if (off < raw.length) return null
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inf.end()
    unfilter(raw, w, h)
  }

  /** 256 MB of decoded pixels — far above the corpus, far below a
    * task's heap. */
  val MaxPixelBytes: Long = 256L * 1024 * 1024

  /** RFC 2083 §6: per-scanline filters None/Sub/Up/Average/Paeth over
    * the 3-byte pixel unit. Returns null on an unknown filter type. */
  private def unfilter(raw: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val bpp = 3
    val rowLen = 3 * w
    val stride = 1 + rowLen
    val px = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val ft = raw(y * stride) & 0xff
      val in = y * stride + 1
      val out = y * rowLen
      var i = 0
      ft match {
        case 0 =>
          System.arraycopy(raw, in, px, out, rowLen)
        case 1 => // Sub: left
          while (i < rowLen) {
            val left = if (i >= bpp) px(out + i - bpp) & 0xff else 0
            px(out + i) = ((raw(in + i) & 0xff) + left).toByte
            i += 1
          }
        case 2 => // Up
          while (i < rowLen) {
            val up = if (y > 0) px(out - rowLen + i) & 0xff else 0
            px(out + i) = ((raw(in + i) & 0xff) + up).toByte
            i += 1
          }
        case 3 => // Average (floor of (left+up)/2)
          while (i < rowLen) {
            val left = if (i >= bpp) px(out + i - bpp) & 0xff else 0
            val up = if (y > 0) px(out - rowLen + i) & 0xff else 0
            px(out + i) = ((raw(in + i) & 0xff) + ((left + up) >> 1)).toByte
            i += 1
          }
        case 4 => // Paeth predictor
          while (i < rowLen) {
            val a = if (i >= bpp) px(out + i - bpp) & 0xff else 0
            val c2 = if (y > 0) px(out - rowLen + i) & 0xff else 0
            val c3 = if (y > 0 && i >= bpp) px(out - rowLen + i - bpp) & 0xff else 0
            val p = a + c2 - c3
            val pa = math.abs(p - a); val pb = math.abs(p - c2)
            val pc = math.abs(p - c3)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) c2 else c3
            px(out + i) = ((raw(in + i) & 0xff) + pred).toByte
            i += 1
          }
        case _ => return null
      }
      y += 1
    }
    px
  }

  private def typeAt(b: Array[Byte], off: Int, t: String): Boolean =
    ByteReads.fourccIs(b, off, t)

  private def be32(b: Array[Byte], i: Int): Int = ByteReads.be32(b, i)
}

object ImagePackedDims extends Serializable {

  /** `(width << 32) | height`, or -1 if the bytes are not a
    * recognizable PNG or JPEG header. */
  def packed(b: Array[Byte]): Long = {
    val png = pngDims(b)
    if (png >= 0L) png else jpegDims(b)
  }

  /** [[packed]] with the -1 sentinel as null (SQL NULL). */
  def dims(b: Array[Byte]): java.lang.Long = {
    val p = packed(b)
    if (p < 0L) null else java.lang.Long.valueOf(p)
  }

  private def u8(b: Array[Byte], i: Int): Int = ByteReads.u8(b, i)
  private def be16(b: Array[Byte], i: Int): Int = ByteReads.be16(b, i)
  private def be32(b: Array[Byte], i: Int): Long =
    (be16(b, i).toLong << 16) | be16(b, i + 2).toLong

  /** PNG: 8-byte signature, then the IHDR chunk is REQUIRED first
    * (RFC 2083 §3), so width/height sit at fixed offsets 16/20. */
  private def pngDims(b: Array[Byte]): Long = {
    if (b.length < 24) return -1L
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    var i = 0
    while (i < 8) { if (u8(b, i) != sig(i)) return -1L; i += 1 }
    if (!(u8(b, 12) == 'I' && u8(b, 13) == 'H' && u8(b, 14) == 'D' &&
        u8(b, 15) == 'R')) return -1L
    val w = be32(b, 16)
    val h = be32(b, 20)
    if (w <= 0L || h <= 0L) -1L else (w << 32) | h
  }

  /** JPEG: SOI then a marker-segment walk to the first SOF marker
    * (0xC0-0xCF minus DHT 0xC4, JPG 0xC8, DAC 0xCC); frame header
    * carries lines (height) then samples-per-line (width), T.81
    * B.2.2. Markers may be padded with runs of 0xFF fill bytes
    * (B.1.1.2) — skip them before classifying; TEM (0x01) and RSTn
    * (0xD0-0xD7) are standalone markers with no length field. Stops
    * cleanly at EOI, scan data, or truncation. */
  private def jpegDims(b: Array[Byte]): Long = {
    if (b.length < 4 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return -1L
    var p = 2
    while (p + 2 <= b.length) {
      if (u8(b, p) != 0xff) return -1L
      // consume 0xFF fill bytes: the marker code is the first non-FF
      while (p + 1 < b.length && u8(b, p + 1) == 0xff) p += 1
      if (p + 2 > b.length) return -1L
      val m = u8(b, p + 1)
      if (m == 0xd9 || m == 0xda) return -1L // EOI / SOS before any SOF
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
        p += 2 // standalone marker, no length field
      } else if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
        if (p + 9 > b.length) return -1L
        val h = be16(b, p + 5).toLong
        val w = be16(b, p + 7).toLong
        return if (w <= 0L || h <= 0L) -1L else (w << 32) | h
      } else {
        if (p + 4 > b.length) return -1L
        val segLen = be16(b, p + 2)
        if (segLen < 2) return -1L
        p += 2 + segLen
      }
    }
    -1L
  }
}
