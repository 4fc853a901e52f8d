package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-statistics job — the graft's "training" stage (reference
  * `Train()` / k-means codebook fit, `src/index_ivf.cpp:39-70`,
  * SURVEY.md §2.9 M5/A3). Unlike the reference we need no sampling: the
  * stats are exact one-pass groupBy aggregates, map-side-combined by
  * Catalyst (partial HashAggregate before the shuffle — verified via
  * .explain), so they scale linearly with corpus size.
  */
object Stats {

  /** Term-frequency rows (doc_id, term, tf, dl) — the engine's "encoded
    * vectors". NO shuffle: a document is a single row, so its term
    * counts are a per-task computation over the token array (the naive
    * `explode → groupBy(doc_id, term)` alternative shuffles every token
    * occurrence — measured ~2× slower at bench scale and the build's
    * biggest GC source). Downstream consumers aggregate or repartition
    * these already-combined rows. A null-text document has no tokens,
    * hence no rows (as in the fused build pass). */
  def tfRows(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.where(col("text").isNotNull)
      .select(col("doc_id"), Tokenize.tokensCol(col("text")).as("toks"))
      .as[(Long, Seq[String])]
      .flatMap { case (d, toks) =>
        val dl = toks.length.toLong
        val m = new scala.collection.mutable.HashMap[String, Long]()
        toks.foreach(t => m.update(t, m.getOrElse(t, 0L) + 1L))
        m.iterator.map { case (t, tf) => (d, t, tf, dl) }
      }
      .toDF("doc_id", "term", "tf", "dl")
  }

  /** Per-term stats (term, df, cf) from tf rows. */
  def termStats(tf: DataFrame): DataFrame =
    tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))

  /** Global scalars in one small job. avgdl = n_tokens/n_docs is derived
    * (never stored as a float) so every consumer gets identical bits. */
  def corpus(docs: DataFrame): CorpusStats = {
    val row = docs.select(
      count(lit(1)).as("n_docs"),
      sum(size(Tokenize.tokensCol(col("text")))).cast("long").as("n_tokens"),
      max(col("doc_id")).as("max_doc_id")).head()
    CorpusStats(row.getLong(0), row.getLong(1), row.getLong(2))
  }

  def readDocuments(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
}
