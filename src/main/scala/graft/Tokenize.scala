package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic tokenizer, frozen for rank-identity (SURVEY.md §7.4).
  *
  * Definition: lowercase, split on runs of non-(letter|digit), drop empties.
  * Expressed in three places, spec-pinned equal:
  *  - [[tokensCol]], the Column form (codegen'd, no UDF);
  *  - [[tokenize]], the plain-Scala regex mirror (query parsing, tests);
  *  - the ranged kernel pair every tokenizing build pass runs:
  *    [[scanTokensUtf8Into]] over pure-ASCII UTF-8 bytes and
  *    [[scanTokensInto]] over a lowered String, both filling a reusable
  *    [[TokenRanges]]; [[scanDocInto]] picks between them.
  * [[OracleSql]] carries the DuckDB mirror
  * (`regexp_split_to_array(lower(text), '[^\pL\pN]+')`).
  */
object Tokenize {
  /** Java-regex for Spark; DuckDB RE2 equivalent is [^\pL\pN]+ */
  val SplitRegex = "[^\\p{L}\\p{N}]+"

  /** Column of ARRAY<STRING> tokens for a text column. */
  def tokensCol(text: Column): Column =
    filter(split(lower(text), SplitRegex), t => length(t) > 0)

  private val splitPattern = java.util.regex.Pattern.compile(SplitRegex)

  /** Driver/executor-side mirror of [[tokensCol]] (identical semantics).
    * Parity notes: Catalyst `lower` uses the same `String.toLowerCase` for
    * non-ASCII and an equivalent ASCII fast path; Catalyst
    * `split(str, re, -1)` differs from Java's `split(re)` (limit 0) only
    * in TRAILING empty strings, which the nonEmpty filter removes on both
    * sides. Bit-equality with [[tokensCol]] is spec-asserted on the driver
    * corpora. */
  def tokenize(text: String): Seq[String] =
    splitPattern.split(text.toLowerCase).toSeq.filter(_.nonEmpty)

  /** `\p{L}\p{N}` code-point class of [[SplitRegex]], evaluated directly:
    * the five letter categories (== `Character.isLetter`) plus the three
    * number categories (Nd, Nl, No — wider than `isDigit`, which is Nd
    * only). Spec-pinned equal to the regex path (TokenizeSpec property
    * test over Unicode strings incl. supplementary planes). */
  @inline private def isWordCp(cp: Int): Boolean =
    Character.isLetter(cp) || {
      val t = Character.getType(cp)
      t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
        t == Character.OTHER_NUMBER
    }

  @inline private def lowerAsciiByte(b: Byte): Int =
    if (b >= 'A' && b <= 'Z') b + 32 else b.toInt

  @inline private def isAsciiWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  /** Reusable token-range buffer of the kernel pair (one per task; grown
    * on demand, never shrunk). After a scan, ranges `[0, n)` are the
    * document's tokens in order: `[starts(i), ends(i))` and `hashes(i)`,
    * the lowered token String's `hashCode`. Entries past `n` are stale. */
  final class TokenRanges {
    var starts = new Array[Int](256)
    var ends = new Array[Int](256)
    var hashes = new Array[Int](256)
    var n = 0

    @inline private[Tokenize] def add(start: Int, end: Int, hash: Int): Unit = {
      if (n == starts.length) {
        val c = n << 1
        starts = java.util.Arrays.copyOf(starts, c)
        ends = java.util.Arrays.copyOf(ends, c)
        hashes = java.util.Arrays.copyOf(hashes, c)
      }
      starts(n) = start; ends(n) = end; hashes(n) = hash
      n += 1
    }
  }

  /** Byte kernel: tokenize a pure-ASCII UTF8String straight off its
    * (UnsafeRow-backed) bytes, lowering per byte, in ONE scan. Ranges are
    * byte offsets of `u`. Returns the token count (= dl), or -1 on any
    * high-bit byte with `buf` emptied — UTF-8 sets high bits on every
    * non-ASCII code point, so the caller falls back to [[scanTokensInto]].
    * Per-byte +32 lowering == `String.toLowerCase` for pure-ASCII input
    * under any non-Turkish default locale, the same assumption the
    * Catalyst-parity spec already makes. */
  def scanTokensUtf8Into(u: UTF8String, buf: TokenRanges): Int = {
    val len = u.numBytes
    buf.n = 0
    var i = 0
    var start = -1
    var h = 0
    while (i < len) {
      val b = u.getByte(i)
      if (b < 0) { buf.n = 0; return -1 }
      if (isAsciiWordByte(b)) {
        if (start < 0) { start = i; h = 0 }
        h = 31 * h + lowerAsciiByte(b)
      } else if (start >= 0) {
        buf.add(start, i, h)
        start = -1
      }
      i += 1
    }
    if (start >= 0) buf.add(start, len, h)
    buf.n
  }

  /** String kernel: tokenize an ALREADY-LOWERCASED String. Ranges are char
    * offsets of `lower` (a supplementary code point spans two chars);
    * returns the token count. No substring, no split array — the regex
    * path allocates ~3 arrays + one String per token. */
  def scanTokensInto(lower: String, buf: TokenRanges): Int = {
    buf.n = 0
    var i = 0
    var start = -1
    var h = 0
    while (i < lower.length) {
      val c = lower.charAt(i)
      var cp: Int = c
      var w = 1
      if (Character.isHighSurrogate(c) && i + 1 < lower.length &&
          Character.isLowSurrogate(lower.charAt(i + 1))) {
        cp = Character.toCodePoint(c, lower.charAt(i + 1)); w = 2
      }
      if (isWordCp(cp)) {
        if (start < 0) { start = i; h = 0 }
        h = 31 * h + c
        if (w == 2) h = 31 * h + lower.charAt(i + 1)
      } else if (start >= 0) {
        buf.add(start, i, h)
        start = -1
      }
      i += w
    }
    if (start >= 0) buf.add(start, lower.length, h)
    buf.n
  }

  /** The ASCII-or-String choice of the build passes: scan `u` into `buf`
    * with the byte kernel, else with the String kernel over its lowered
    * decoding. Returns null when the ranges are byte offsets of `u`, or
    * the lowered String whose char offsets they are. */
  def scanDocInto(u: UTF8String, buf: TokenRanges): String =
    if (scanTokensUtf8Into(u, buf) >= 0) null
    else {
      val lower = u.toString.toLowerCase
      scanTokensInto(lower, buf)
      lower
    }

  /** Materialize the lowered ASCII token at bytes [start, end) of `u`
    * as a String — only called on first sight of a term. */
  def lowerAsciiToken(u: UTF8String, start: Int, end: Int): String = {
    val n = end - start
    val chars = new Array[Char](n)
    var j = 0
    while (j < n) {
      chars(j) = lowerAsciiByte(u.getByte(start + j)).toChar
      j += 1
    }
    new String(chars)
  }
}
