package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact full-scan BM25 top-k — the ground-truth generator (analog of the
  * reference's `QueryObs` / `get_groundtruth` exact path configured with
  * kc=1 ⇒ full scan, `toolkits/get_groundtruth.cpp:15-17`, SURVEY.md §2.10
  * Q5/Q6). Every indexed/pruned query path must stay rank-identical to
  * this, and this in turn is cross-checked against DuckDB via
  * [[OracleSql.topkSql]].
  *
  * Plan shape: tf rows ⋈ broadcast(query terms) → per-(query,doc) integer
  * micro-contribution → integer SUM groupBy(query_id, doc_id) → top-k.
  * The join side `qterms` is tiny (nq·terms ≈ 60 rows) and broadcast; the
  * groupBy gets map-side partial aggregation — at 100 TB this is one scan
  * + one bounded shuffle of (query,doc) partials.
  */
object Oracle {

  /** (query_id, doc_id, score_micro) for every doc matching ≥1 query term.
    *
    * Join ORDER matters at scale: the broadcast query-term filter comes
    * FIRST, so the tf stream is restricted to query terms before anything
    * else — no full-vocab exchange ever happens. df is then exact for
    * those terms (the filter keeps every row of a kept term) and rides a
    * tiny broadcast back onto the filtered stream. */
  def scores(spark: SparkSession, docs: DataFrame,
             queries: Seq[(Int, Seq[String])] = QuerySet.queryTerms): DataFrame = {
    import spark.implicits._
    val cs = Stats.corpus(docs)
    val tf = Stats.tfRows(docs)
    val qt = queries.flatMap(_._2).distinct.toDF("term")
    val tfq = tf.join(broadcast(qt), Seq("term")) // restrict FIRST
    val dfq = tfq.groupBy($"term").agg(count(lit(1)).as("df"))
    val qterms = queries
      .flatMap { case (qid, terms) => terms.map(t => (qid, t)) }
      .toDF("query_id", "term")
    tfq.join(broadcast(dfq), Seq("term"))
      .join(broadcast(qterms), Seq("term"))
      .withColumn("c", Bm25.contribMicroCol(cs.n_docs, cs.avgdl, $"df", $"tf", $"dl"))
      .groupBy($"query_id", $"doc_id")
      .agg(sum($"c").as("score_micro"))
  }

  /** Rank with the frozen total order (score_micro DESC, doc_id ASC) and
    * keep top-k. Window form = the readable oracle; [[TopK]] is the
    * scalable form (both tested rank-identical). */
  def topk(spark: SparkSession, docs: DataFrame, k: Int = QuerySet.K,
           queries: Seq[(Int, Seq[String])] = QuerySet.queryTerms): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"query_id").orderBy($"score_micro".desc, $"doc_id".asc)
    scores(spark, docs, queries)
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .select($"query_id", $"rank", $"doc_id", $"score_micro")
      .orderBy($"query_id", $"rank")
  }

  /** Attribute-filtered exact top-k: same global-stats scores, candidacy
    * restricted by a semi-join against the docs whose `attr` is IN
    * `values` — the ground truth for [[QueryEngine]]'s [[Attrs]] filter
    * path (filter restricts candidates, never scoring). */
  def topkFiltered(spark: SparkSession, docs: DataFrame, attr: String,
                   values: Seq[String], k: Int = QuerySet.K,
                   queries: Seq[(Int, Seq[String])] = QuerySet.queryTerms): DataFrame = {
    import spark.implicits._
    val allowed = docs.where(col(attr).isin(values: _*)).select(col("doc_id"))
    val w = Window.partitionBy($"query_id").orderBy($"score_micro".desc, $"doc_id".asc)
    scores(spark, docs, queries)
      .join(allowed, Seq("doc_id"), "left_semi")
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .select($"query_id", $"rank", $"doc_id", $"score_micro")
      .orderBy($"query_id", $"rank")
  }

  /** Range-filtered exact top-k: candidacy restricted to docs whose
    * NUMERIC `attr` lies in [lo, hi] — ground truth for the engine's
    * [[Attrs]] range-predicate path. The cast matches the engine's
    * parse-the-stored-string semantics (non-numeric ⇒ excluded). */
  def topkFilteredRange(spark: SparkSession, docs: DataFrame, attr: String,
                        lo: Double, hi: Double, k: Int = QuerySet.K,
                        queries: Seq[(Int, Seq[String])] = QuerySet.queryTerms): DataFrame = {
    import spark.implicits._
    val allowed = docs
      .where(expr(s"TRY_CAST(CAST($attr AS STRING) AS DOUBLE)")
        .between(lit(lo), lit(hi)))
      .select(col("doc_id"))
    val w = Window.partitionBy($"query_id").orderBy($"score_micro".desc, $"doc_id".asc)
    scores(spark, docs, queries)
      .join(allowed, Seq("doc_id"), "left_semi")
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .select($"query_id", $"rank", $"doc_id", $"score_micro")
      .orderBy($"query_id", $"rank")
  }

  /** Same result via [[TopK.topk]], the engine's one top-k merge (per-
    * task bounded heaps merged in the same job; the treeReduce-style scale
    * path, SURVEY.md §2.6 T2), as one [[HitsRelation]] in (query_id,
    * rank) order. */
  def topkViaHeap(spark: SparkSession, docs: DataFrame, k: Int = QuerySet.K): DataFrame = {
    import spark.implicits._
    val top = TopK.topk(scores(spark, docs)
      .select($"query_id".cast("long"), $"doc_id", $"score_micro").as[(Long, Long, Long)].rdd, k)
    HitsRelation.toDF(spark, top)
  }
}
