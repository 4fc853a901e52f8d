package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** BM25 scoring, k1 = 1.2, b = 0.75 (frozen by BASELINE.json).
  *
  * idf(t)        = ln(1 + (N - df + 0.5) / (df + 0.5))          (Lucene form)
  * tfNorm(tf,dl) = tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
  * contrib       = idf · tfNorm
  *
  * Rank-identity strategy (SURVEY.md §7.6 item 2): per-term contributions
  * are quantized to integer micros, `floor(1e6·contrib + 0.5)`, and a doc's
  * score is the INTEGER sum of micros. Integer addition is associative, so
  * partial aggregation order (Spark) vs single-pass order (DuckDB) cannot
  * flip ranks — the analog of the reference's fixed-point PQ codes
  * (`src/quantizer.cpp:133-188` compresses floats to u8 and scores via
  * table lookups, accepting bounded quantization error for determinism).
  *
  * The arithmetic SHAPE below is mirrored token-for-token in
  * [[OracleSql.contribExpr]]; identical double inputs ⇒ identical double
  * ops ⇒ identical micros (the only library call, ln, is sub-ulp across
  * libms and absorbed by the 1e-6 grid).
  */
object Bm25 {
  val K1 = 1.2
  val B  = 0.75
  // 1 - b = 0.25 folded as a literal so both engines see the same constant.

  /** Scalar contribution in micros (used by the batched scorer + tests).
    * Mirrors contribCol / OracleSql.contribExpr exactly. */
  def contribMicro(idf: Double, tf: Long, dl: Long, avgdl: Double): Long =
    math.floor(1e6 * (idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) + 0.5).toLong

  def idf(nDocs: Long, df: Long): Double =
    math.log(1 + (nDocs - df + 0.5) / (df + 0.5))

  /** Column form: contribution in micros, mirroring [[contribMicro]].
    * tf / dl / df are BIGINT columns; nDocs & avgdl literal doubles. */
  def contribMicroCol(nDocs: Long, avgdl: Double, df: Column, tf: Column, dl: Column): Column =
    floor(lit(1e6) * (log(lit(1.0) + (lit(nDocs) - df + lit(0.5)) / (df + lit(0.5)))
      * tf * lit(2.2)
      / (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dl / lit(avgdl)))) + lit(0.5))
      .cast("long")
}
