package graft

import org.scalatest.funsuite.AnyFunSuite

/** BM25 formula vs hand-computed values + monotonicity of the block
  * header bound (contribMicro at the header's (max_tf, min_dl)). */
class Bm25Spec extends AnyFunSuite {

  test("idf matches hand computation") {
    // N=500, df=25: ln(1 + 475.5/25.5)
    assert(math.abs(Bm25.idf(500, 25) - math.log(1 + 475.5 / 25.5)) < 1e-15)
  }

  test("contribMicro matches hand computation") {
    // idf=2.0, tf=3, dl=60, avgdl=50:
    // 2.0*3*2.2/(3+1.2*(0.25+0.75*60/50)) = 13.2/(3+1.38)=3.0136986...
    val expected = math.floor(1e6 * (2.0 * 3 * 2.2 / (3 + 1.2 * (0.25 + 0.75 * 60.0 / 50))) + 0.5).toLong
    assert(Bm25.contribMicro(2.0, 3, 60, 50.0) == expected)
    assert(expected == 3013699L)
  }

  test("block upper bound dominates every member contribution") {
    val idf = 1.37
    val avgdl = 54.33
    val rnd = new scala.util.Random(123)
    for (_ <- 1 to 2000) {
      val tfs = Array.fill(16)(1 + rnd.nextInt(20))
      val dls = Array.fill(16)(1 + rnd.nextInt(200))
      val ub = Bm25.contribMicro(idf, tfs.max.toLong, dls.min.toLong, avgdl)
      for (i <- 0 until 16)
        assert(Bm25.contribMicro(idf, tfs(i).toLong, dls(i).toLong, avgdl) <= ub)
    }
  }

  test("tokenizer is deterministic and drops empties") {
    assert(Tokenize.tokenize("The  quick,brown fox! 42") ==
      Seq("the", "quick", "brown", "fox", "42"))
    assert(Tokenize.tokenize("") == Seq.empty)
    assert(Tokenize.tokenize("...") == Seq.empty)
  }
}
