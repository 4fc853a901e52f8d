package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic tokenizer, frozen for rank-identity (SURVEY.md §7.4).
  *
  * Definition: lowercase, split on runs of non-(letter|digit), drop empties.
  * Expressed once as a Column (codegen'd, no UDF) and once as plain Scala
  * (for query parsing / unit tests); [[OracleSql]] carries the DuckDB
  * mirror (`regexp_split_to_array(lower(text), '[^\pL\pN]+')`).
  */
object Tokenize {
  /** Java-regex for Spark; DuckDB RE2 equivalent is [^\pL\pN]+ */
  val SplitRegex = "[^\\p{L}\\p{N}]+"

  /** Column of ARRAY<STRING> tokens for a text column. */
  def tokensCol(text: Column): Column =
    filter(split(lower(text), SplitRegex), t => length(t) > 0)

  /** Driver/executor-side mirror of [[tokensCol]] (identical semantics). */
  def tokenize(text: String): Seq[String] =
    text.toLowerCase.split(SplitRegex).toSeq.filter(_.nonEmpty)

  private val splitPattern = java.util.regex.Pattern.compile(SplitRegex)

  /** Hot-path variant of [[tokenize]] (precompiled pattern, no Seq
    * wrapper). Parity notes: Catalyst `lower` uses the same
    * `String.toLowerCase` for non-ASCII and an equivalent ASCII fast
    * path; Catalyst `split(str, re, -1)` differs from Java's
    * `split(re)` (limit 0) only in TRAILING empty strings, which the
    * nonEmpty filter removes on both sides. Bit-equality with
    * [[tokensCol]] is spec-asserted on the driver corpora. */
  def tokenizeArray(text: String): Array[String] =
    splitPattern.split(text.toLowerCase).filter(_.nonEmpty)

  /** Receiver for [[scanTokens]] — a trait (not a Function3) so the
    * per-token call passes primitive ints unboxed. */
  trait TokenSink {
    /** One token = `lower.substring(start, end)`; `hash` equals that
      * substring's `String.hashCode`. */
    def token(lower: String, start: Int, end: Int, hash: Int): Unit
  }

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

  /** Receiver for [[scanTokensUtf8]] — token byte ranges over a
    * [[org.apache.spark.unsafe.types.UTF8String]] still backed by its
    * UnsafeRow buffer, so the fused build pass can tokenize without
    * ever decoding the document to a java String (the Dataset Encoder
    * boundary — one String + one Tuple2 per document — is the map
    * stage's dominant garbage on an already-lowercase corpus). */
  trait Utf8TokenSink {
    /** One token = bytes [start, end) of `u` lowered per-char; `hash`
      * equals the lowered token String's `hashCode`. Only emitted for
      * pure-ASCII input, where byte == char. */
    def token(u: org.apache.spark.unsafe.types.UTF8String,
              start: Int, end: Int, hash: Int): Unit
  }

  @inline private def lowerAsciiByte(b: Byte): Int =
    if (b >= 'A' && b <= 'Z') b + 32 else b.toInt

  @inline private def isAsciiWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  /** Pass 1 of the byte-level fast path: token count of a pure-ASCII
    * UTF8String, or -1 if any byte has the high bit set (non-ASCII ⇒
    * caller must fall back to the String path BEFORE emitting anything;
    * UTF-8 guarantees every non-ASCII code point sets high bits). */
  def countTokensUtf8Ascii(u: org.apache.spark.unsafe.types.UTF8String): Int = {
    val len = u.numBytes
    var i = 0
    var n = 0
    var in = false
    while (i < len) {
      val b = u.getByte(i)
      if (b < 0) return -1
      if (isAsciiWordByte(b)) { if (!in) { n += 1; in = true } }
      else in = false
      i += 1
    }
    n
  }

  /** Pass 2: emit each token's byte range + lowered-String hash. Caller
    * must have established pure-ASCII via [[countTokensUtf8Ascii]].
    * Bit-identical tokens/hashes to [[scanTokens]] on
    * `u.toString.toLowerCase` — spec-pinned in TokenizeSpec. */
  def scanTokensUtf8(u: org.apache.spark.unsafe.types.UTF8String,
                     sink: Utf8TokenSink): Unit = {
    val len = u.numBytes
    var i = 0
    var start = -1
    var h = 0
    while (i < len) {
      val b = u.getByte(i)
      if (isAsciiWordByte(b)) {
        if (start < 0) { start = i; h = 0 }
        h = 31 * h + lowerAsciiByte(b)
      } else if (start >= 0) {
        sink.token(u, start, i, h)
        start = -1
      }
      i += 1
    }
    if (start >= 0) sink.token(u, start, len, h)
  }

  /** Reusable token-range buffer for [[scanTokensUtf8Into]] (one per
    * task; grown on demand, never shrunk). */
  final class TokenRanges {
    var starts = new Array[Int](256)
    var ends = new Array[Int](256)
    var hashes = new Array[Int](256)
    var n = 0
    private[Tokenize] def grow(): Unit = {
      val c = starts.length << 1
      starts = java.util.Arrays.copyOf(starts, c)
      ends = java.util.Arrays.copyOf(ends, c)
      hashes = java.util.Arrays.copyOf(hashes, c)
    }
  }

  /** SINGLE-pass fusion of [[countTokensUtf8Ascii]] + [[scanTokensUtf8]]:
    * classify + hash + record each token's byte range into `buf` in one
    * scan, returning the token count (= dl), or -1 on any high-bit byte
    * (non-ASCII ⇒ caller falls back to the String path; `buf` contents
    * are then meaningless). The two-pass shape re-read and re-classified
    * every text byte just to learn dl before emitting — at build scale
    * that second scan was pure memory traffic (guide §1.2: per-task work
    * after the job shape is right). Token ranges, order and hashes are
    * identical to the two-pass path by construction: same classifier
    * ([[isAsciiWordByte]]), same hash recurrence, same boundary rules —
    * and the existing TokenizeSpec parity suite pins the scan semantics. */
  def scanTokensUtf8Into(u: org.apache.spark.unsafe.types.UTF8String,
                         buf: TokenRanges): Int = {
    val len = u.numBytes
    buf.n = 0
    var i = 0
    var start = -1
    var h = 0
    while (i < len) {
      val b = u.getByte(i)
      if (b < 0) return -1
      if (isAsciiWordByte(b)) {
        if (start < 0) { start = i; h = 0 }
        h = 31 * h + lowerAsciiByte(b)
      } else if (start >= 0) {
        if (buf.n == buf.starts.length) buf.grow()
        buf.starts(buf.n) = start; buf.ends(buf.n) = i; buf.hashes(buf.n) = h
        buf.n += 1
        start = -1
      }
      i += 1
    }
    if (start >= 0) {
      if (buf.n == buf.starts.length) buf.grow()
      buf.starts(buf.n) = start; buf.ends(buf.n) = len; buf.hashes(buf.n) = h
      buf.n += 1
    }
    buf.n
  }

  /** Single-pass [[scanTokensUtf8]] that ABORTS on the first non-ASCII
    * byte: returns false with the sink having received only a PREFIX of
    * the doc's tokens (every emitted range ended at an ASCII non-word
    * byte, so each is a complete, correct token of the String path too).
    * Only for sinks that are IDEMPOTENT per (token, doc) — e.g. the
    * doc-distinct df counter, where the String-path fallback re-covers
    * the whole doc and re-bumping a (term, doc) pair is a no-op. Saves
    * the separate ASCII pre-scan on the all-ASCII common case. */
  def scanTokensUtf8Abortable(u: org.apache.spark.unsafe.types.UTF8String,
                              sink: Utf8TokenSink): Boolean = {
    val len = u.numBytes
    var i = 0
    var start = -1
    var h = 0
    while (i < len) {
      val b = u.getByte(i)
      if (b < 0) return false
      if (isAsciiWordByte(b)) {
        if (start < 0) { start = i; h = 0 }
        h = 31 * h + lowerAsciiByte(b)
      } else if (start >= 0) {
        sink.token(u, start, i, h)
        start = -1
      }
      i += 1
    }
    if (start >= 0) sink.token(u, start, len, h)
    true
  }

  /** Materialize the lowered ASCII token at bytes [start, end) of `u`
    * as a String — only called on first sight of a term. */
  def lowerAsciiToken(u: org.apache.spark.unsafe.types.UTF8String,
                      start: Int, end: Int): String = {
    val n = end - start
    val chars = new Array[Char](n)
    var j = 0
    while (j < n) {
      chars(j) = lowerAsciiByte(u.getByte(start + j)).toChar
      j += 1
    }
    new String(chars)
  }

  /** Token count of an ALREADY-LOWERCASED string — one classification
    * pass, zero allocation. Equals `tokenizeArray(text).length` when
    * `lower == text.toLowerCase`. */
  def countTokens(lower: String): Int = {
    var i = 0
    var n = 0
    var in = false
    while (i < lower.length) {
      val c = lower.charAt(i)
      var cp: Int = c
      var w = 1
      if (Character.isHighSurrogate(c) && i + 1 < lower.length &&
          Character.isLowSurrogate(lower.charAt(i + 1))) {
        cp = Character.toCodePoint(c, lower.charAt(i + 1)); w = 2
      }
      if (isWordCp(cp)) { if (!in) { n += 1; in = true } }
      else in = false
      i += w
    }
    n
  }

  /** Allocation-free tokenizer drive over an ALREADY-LOWERCASED string:
    * emits each token's [start, end) char range and its String-compatible
    * hash to `sink` — no substring, no split array. This is the hot-path
    * sibling of [[tokenizeArray]]: the regex-split path allocates ~3
    * arrays + one String per token (the dominant allocation source of
    * the index build's map stage); this allocates nothing. Bit-parity
    * with the regex path is spec-pinned (TokenizeSpec). */
  def scanTokens(lower: String, sink: TokenSink): Unit = {
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
        sink.token(lower, start, i, h)
        start = -1
      }
      i += w
    }
    if (start >= 0) sink.token(lower, start, lower.length, h)
  }
}
