package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization as a native codegen'd function.
  *
  * Every serious text pipeline canonicalizes before hashing or
  * tokenizing: NFC composes "e" + COMBINING ACUTE into the single
  * codepoint "é", so visually-identical strings hash identically and
  * a BPE vocabulary sees one spelling. Spark ships no normalization
  * function; a Scala UDF would leave codegen — this is one
  * [[NativeCall]] of the JVM's built-in `java.text.Normalizer`
  * (UAX #15 conformant; no new dependency). The DuckDB oracle replays through `nfc_normalize`
  * (utf8proc — also UAX #15 conformant, so stable codepoints agree
  * bit-for-bit).
  */
object NormExprs {

  /** NFC-normalize a string column (null in, null out). */
  def nfc(c: Column): Column =
    NativeCall.column("nfc_normalize", NfcNormalize, "normalize", StringType,
      Seq(StringType))(c)
}

object NfcNormalize extends Serializable {
  /** Fast path: `isNormalized` is O(n) with no allocation for the
    * (overwhelmingly common) already-NFC input. */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}
