package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

/** `norm_text(text)` — Unicode text normalization as one codegen'd kernel: NFC
  * composition → simple per-codepoint lowercase → ASCII-whitespace
  * collapse → edge trim. The canonicalization every dedup/fingerprint pass should
  * run first, so "Café" and "Café" (decomposed) hash
  * identically — without it, byte-level dedup silently misses visually
  * identical documents.
  *
  * One native kernel (called from whole-stage codegen like every row of
  * [[Natives]]) instead of chaining three interpreted regex/UDF steps;
  * the semantics are replicated in
  * the DuckDB oracle as `trim(regexp_replace(lower(nfc_normalize(x)),
  * '\s+', ' ', 'g'))`.
  */
object NormText {

  /** The normalization [[normalizeUTF8]] runs. Whitespace collapse
    * is ASCII-class (`[ \t\n\f\r]`) to match the `\s` the SQL
    * oracles use; NFC and lowercase come from the JDK (ICU-equivalent
    * for the BMP text this corpus carries).
    */
  def normalize(s: String): String = {
    val nfc = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    // SIMPLE per-codepoint lowercase (Character.toLowerCase(int)), NOT
    // String.toLowerCase: the full mapping expands special-casing code
    // points (U+0130 'İ' becomes i + combining dot, 2 code points) while
    // DuckDB's lower() — the oracle's — applies utf8proc's one-to-one
    // simple mapping. One-to-one also can't lengthen the string, so
    // NFC → simple-lowercase stays NFC in practice; engines may still
    // disagree on code points newer than their Unicode tables.
    val lb = new java.lang.StringBuilder(nfc.length)
    var j = 0
    while (j < nfc.length) {
      val cp = nfc.codePointAt(j)
      lb.appendCodePoint(Character.toLowerCase(cp))
      j += Character.charCount(cp)
    }
    val lower = lb.toString
    val sb = new java.lang.StringBuilder(lower.length)
    var i = 0
    var pendingSpace = false
    var emitted = false
    while (i < lower.length) {
      val c = lower.charAt(i)
      val isWs = c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'
      if (isWs) { if (emitted) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
        emitted = true
      }
      i += 1
    }
    sb.toString
  }

  /** The kernel. */
  def normalizeUTF8(u: UTF8String): UTF8String =
    UTF8String.fromString(normalize(u.toString))

  def normText(c: Column): Column = call_function("norm_text", c)
}
