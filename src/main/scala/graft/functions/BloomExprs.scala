package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Scan-stage n-gram bloom membership: does ANY word n-gram of a text
  * (whitespace tokens, the [[graft.ops.TextAnalysis.tokens]] convention)
  * hit the bloom filter?
  *
  * This is the 100 TB shape of eval-set decontamination's candidate
  * pruning: the exact path explodes every corpus document into its
  * shingle index before the eval equi-join — |tokens| rows per document
  * materialized and shuffled for a corpus that is overwhelmingly clean.
  * With the eval suite's shingles folded into a bloom filter (bits, not
  * strings — ~1.2 MB per million shingles at 1% fpp), the membership
  * probe runs INSIDE the parquet scan stage and clean documents die
  * before any explode, join, or exchange sees them. No false negatives
  * by construction, so exact verification downstream only ever discards
  * bloom false positives — the flagged set is bit-identical to the
  * exact path's.
  *
  * The probe is one codegen'd call inside the enclosing
  * WholeStageCodegen stage (a [[NativeCall]] on this kernel); the
  * filter rides the plan's reference array, serialized once per task,
  * and the probe hashes the text's UTF-8 bytes in place — shingle
  * byte ranges are sliced straight out of the document (tokens are
  * single-space separated by the `split(text, " ")` convention, so
  * every shingle IS a contiguous byte range of the text; empty tokens
  * from doubled spaces round-trip identically on both sides). Two
  * kernels compare by `n` and the filter's bits.
  */
final case class ShingleBloom(n: Int, bloom: BloomFilter) {

  /** True iff any word n-gram of `text` might be in `bloom`. Tokens are
    * split on single spaces (the engine-wide convention); each shingle
    * is the byte range of the text covering n consecutive tokens, so
    * the probe is zero-copy over the UTF8String's bytes and hashes
    * exactly the bytes `concat_ws(" ", slice(tokens, i, n))` would
    * produce. Documents with fewer than n tokens carry no n-gram
    * evidence and return false. */
  def containsAny(text: UTF8String): Boolean = {
    val bytes = text.getBytes
    // token start offsets: 0 and every byte after a space
    var nTokens = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') nTokens += 1; i += 1 }
    if (nTokens < n) return false
    val starts = new Array[Int](nTokens)
    var t = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    // shingle s spans [starts(s), end of token s+n-1)
    var s = 0
    while (s + n <= nTokens) {
      val from = starts(s)
      val until =
        if (s + n == nTokens) bytes.length else starts(s + n) - 1
      if (bloom.mightContainBinary(
          java.util.Arrays.copyOfRange(bytes, from, until))) return true
      s += 1
    }
    false
  }
}

object BloomExprs {

  /** True iff any word n-gram of `text` might be in `bloom`. */
  def shingleMightOverlap(text: Column, n: Int, bloom: BloomFilter): Column =
    NativeCall.column("shingle_bloom_contains", ShingleBloom(n, bloom),
      "containsAny", BooleanType, Seq(StringType))(text)
}
