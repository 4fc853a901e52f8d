package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}

/** Parity of the ranged tokenizer kernels ([[Tokenize.scanTokensInto]] /
  * [[Tokenize.scanTokensUtf8Into]]) with the frozen regex definition
  * ([[Tokenize.tokenize]]) — the kernels replace the regex in every
  * tokenizing build pass, so any divergence would silently change every
  * index. Property-tested over adversarial Unicode including
  * supplementary-plane code points, lone surrogates, and Nl/No number
  * categories the `isDigit` shortcut would miss. Every check runs both
  * kernels on ONE reused [[Tokenize.TokenRanges]], first filled by a long
  * document (past its initial capacity), so stale ranges would show. */
class TokenizeSpec extends AnyFunSuite {

  private val buf = new Tokenize.TokenRanges()
  private val longDoc = (1 to 300).map(i => s"Tok$i").mkString(" ")

  /** Tokens of `[0, n)`, each checked against its recorded hash. */
  private def tokensOf(n: Int, token: Int => String): Seq[String] = {
    assert(n == buf.n, s"returned count $n != buffer count ${buf.n}")
    (0 until n).map { i =>
      val t = token(i)
      assert(buf.hashes(i) == t.hashCode, s"hash mismatch for token '$t'")
      t
    }
  }

  private def viaString(text: String): Seq[String] = {
    assert(Tokenize.scanTokensInto(longDoc.toLowerCase, buf) == 300)
    val lower = text.toLowerCase
    tokensOf(Tokenize.scanTokensInto(lower, buf),
      i => lower.substring(buf.starts(i), buf.ends(i)))
  }

  /** None iff the byte kernel refused the text (returned -1). */
  private def viaUtf8(text: String): Option[Seq[String]] = {
    assert(Tokenize.scanTokensUtf8Into(UTF8String.fromString(longDoc), buf) == 300)
    val u = UTF8String.fromString(text)
    val n = Tokenize.scanTokensUtf8Into(u, buf)
    assert((n < 0) == u.getBytes.exists(_ < 0),
      s"byte kernel must return -1 exactly on a high-bit byte: ${text.take(80)}")
    if (n < 0) { assert(buf.n == 0); None }
    else Some(tokensOf(n, i => Tokenize.lowerAsciiToken(u, buf.starts(i), buf.ends(i))))
  }

  private def checkParity(text: String): Unit = {
    val expected = Tokenize.tokenize(text)
    assert(viaString(text) == expected, s"scan tokens diverge for ${text.take(80)}")
    viaUtf8(text).foreach(got =>
      assert(got == expected, s"utf8 tokens diverge for ${text.take(80)}"))
  }

  test("parity on hand-picked edges") {
    Seq(
      "", "...", "The  quick,brown fox! 42", "a", " a ", "7seven 7",
      "ünïcödé Straße ĲSSELMEER", // sharp-s lowercasing changes length
      "İstanbul İ", // dotted capital I → i + combining dot
      "Ⅻ rome Ⅻ", // Nl LETTER_NUMBER (not isDigit)
      "½ and ¾ halves", // No OTHER_NUMBER
      "𝐀math𝐚bold", // supplementary-plane letters
      "😀 emoji 😀 gap", // supplementary non-letters
      "𝟎 zero 𝟏", // MATHEMATICAL BOLD DIGITs (Nd, supplementary)
      "lone\uD800surrogate", "tail\uDC00low", "\uD800", "\uDC00",
      "ends with high\uD800", "mixed\uD800𐀀run"
    ).foreach(checkParity)
  }

  test("parity on random Unicode strings") {
    val interesting: Gen[Char] = Gen.oneOf(
      Gen.alphaNumChar, Gen.const(' '), Gen.const(','), Gen.const('ß'),
      Gen.const('Ⅻ'), Gen.const('½'), Gen.const('İ'),
      Gen.choose('\uD800', '\uDBFF'), Gen.choose('\uDC00', '\uDFFF'),
      Arbitrary.arbitrary[Char])
    val texts: Gen[String] = Gen.listOf(interesting).map(_.mkString)
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500),
      Prop.forAll(texts) { text => checkParity(text); true })
    assert(res.passed, res.status.toString)
  }

  test("parity on the driver corpus") {
    val spark = TestSpark.spark
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text").collect().foreach(r => checkParity(r.getString(0)))
  }

  /** The byte kernel of the fused build pass: tokenize straight off the
    * UTF8String bytes with on-the-fly lowering. Must be token- and
    * hash-identical to the String kernel for any pure-ASCII input and
    * must refuse (-1, no ranges) anything else. */
  test("utf8 ascii fast path parity (hand-picked + random)") {
    val hand = Seq("", "...", "The  quick,brown fox! 42", "A", " MiXeD CaSe ",
      "UPPER lower 0123456789", "under_score-dash", "a!b@c#d$e%f")
    hand.foreach { t =>
      assert(viaUtf8(t).isDefined, s"pure ASCII refused: '$t'")
      checkParity(t)
    }
    val asciiTexts: Gen[String] =
      Gen.listOf(Gen.choose(0.toChar, 127.toChar)).map(_.mkString)
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500),
      Prop.forAll(asciiTexts) { text =>
        checkParity(text)
        viaUtf8(text).isDefined
      })
    assert(res.passed, res.status.toString)
    assert(viaUtf8("naïve").isEmpty, "non-ASCII must fall back")
    assert(viaUtf8("😀 emoji").isEmpty, "supplementary must fall back")
    assert(viaUtf8("ascii tokens first, then straße").isEmpty,
      "a late multibyte letter must fall back")
  }
}
