package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, LongType}

/** RIFF/WAV audio parsing + PCM statistics as ONE native codegen'd
  * function over an opaque `binary` column — the audio-modality
  * twin of [[MediaExprs.pngRgb]]: a real chunk walk (RIFF fourcc +
  * little-endian u32 size, odd-chunk pad bytes honored), the
  * canonical 16-byte PCM `fmt ` chunk, and one pass over the
  * interleaved s16le frames in `data`. Everything a training-data
  * audio ingest filters on BEFORE decode-heavy work is scheduled
  * (sample rate / channel routing, duration gates, clipping and
  * silence screens) comes out of this single scan-stage pass, and
  * every output is integer-derived so the DuckDB oracle replays each
  * value from the same file bytes.
  *
  * Malformed or unsupported bytes (not RIFF/WAVE, compressed
  * formats, truncated data) yield NULL, never an exception.
  */
object WavExprs {

  /** `array<long>` of 7: sample rate, channels, bits (16), frames
    * per channel, sum |sample|, max |sample|, clipped-sample count
    * (|s| >= 32000). NULL unless the bytes are a PCM s16le
    * RIFF/WAVE. */
  def wavInfo(c: Column): Column =
    NativeCall.column("wav_info", WavInfo, "parse",
      ArrayType(LongType, containsNull = false), Seq(BinaryType))(c)
}

object WavInfo extends Serializable {

  /** Threshold for the clipping screen: |s| at or beyond this counts
    * as clipped (slightly inside full scale, the usual detector). */
  val ClipAt = 32000

  /** [rate, channels, bits, nFramesPerChannel, sumAbs, maxAbs,
    * nClipped], or null. Only uncompressed PCM s16le is in contract
    * (format 1, bits 16) — the dominant raw-audio corpus shape;
    * anything else degrades to null. */
  def parse(b: Array[Byte]): GenericArrayData = {
    if (b.length < 44) return null
    if (!fourcc(b, 0, "RIFF") || !fourcc(b, 8, "WAVE")) return null
    var rate = -1L; var ch = -1; var bits = -1
    var dataOff = -1; var dataLen = -1
    var pos = 12
    while (pos + 8 <= b.length && dataOff < 0) {
      val size = le32(b, pos + 4)
      // Long guard: a hostile ~2^31 size field would overflow the
      // Int sum and slip past the bound (the TarEntries lesson)
      if (size < 0 || pos.toLong + 8L + size > b.length.toLong) return null
      if (fourcc(b, pos, "fmt ")) {
        if (size < 16) return null
        val fmt = le16(b, pos + 8)
        ch = le16(b, pos + 10)
        rate = le32(b, pos + 12).toLong
        bits = le16(b, pos + 22)
        if (fmt != 1) return null // compressed: out of contract
      } else if (fourcc(b, pos, "data")) {
        dataOff = pos + 8
        dataLen = size
      }
      // RIFF pads odd-sized chunks with one uncounted byte
      pos += 8 + size + (size & 1)
    }
    if (rate <= 0 || ch <= 0 || bits != 16 || dataOff < 0) return null
    val bytesPerFrame = ch * 2
    if (dataLen % bytesPerFrame != 0) return null
    val nFrames = dataLen / bytesPerFrame
    var sumAbs = 0L; var maxAbs = 0L; var clipped = 0L
    var i = dataOff
    val end = dataOff + dataLen
    while (i < end) {
      val v = (b(i) & 0xff) | (b(i + 1) << 8) // s16le: high byte signed
      val a = math.abs(v)
      sumAbs += a
      if (a > maxAbs) maxAbs = a
      if (a >= ClipAt) clipped += 1
      i += 2
    }
    new GenericArrayData(Array(rate, ch.toLong, bits.toLong,
      nFrames.toLong, sumAbs, maxAbs, clipped))
  }

  private def fourcc(b: Array[Byte], off: Int, t: String): Boolean =
    ByteReads.fourccIs(b, off, t)

  private def le16(b: Array[Byte], i: Int): Int = ByteReads.le16(b, i)

  private def le32(b: Array[Byte], i: Int): Int = ByteReads.le32(b, i)
}
