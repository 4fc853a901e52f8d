package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.ExplainMode

/** The hits leaf ([[HitsRelation]]) answers every operator a caller puts
  * on a batch result exactly as the local relation of the same rows does,
  * and collecting it starts no job. */
class HitsRelationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** `nq` queries (ascending random qids), each with 1..k hits; scores
    * are distinct across the block, so every score order is total. */
  private def randomBlock(rnd: scala.util.Random, nq: Int, k: Int): TopK.Block = {
    val qids = Iterator.continually(rnd.nextInt(1000).toLong).distinct.take(nq).toArray.sorted
    val scores = rnd.shuffle((0L until nq.toLong * k).toList).iterator
    TopK.block(qids, qids.map { _ =>
      val h = new TopK.QueryHeap(k)
      rnd.shuffle((0L until 50L).toList).take(1 + rnd.nextInt(k))
        .foreach(d => h.offer(scores.next(), d))
      h
    })
  }

  private val blocks: Seq[TopK.Block] = {
    val rnd = new scala.util.Random(42)
    Seq(TopK.emptyBlock, randomBlock(rnd, 1, 1), randomBlock(rnd, 1, 10)) ++
      Seq.fill(3)(randomBlock(rnd, 1 + rnd.nextInt(30), 1 + rnd.nextInt(10)))
  }

  private def reference(b: TopK.Block): DataFrame = {
    import spark.implicits._
    spark.createDataset(b.ranked((q, rank, doc, score) => Hit(q.toInt, rank, doc, score))).toDF()
  }

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  test("hits relation == local relation: schema, collect, count, filter, as[Hit], head, orderBy") {
    import spark.implicits._
    blocks.foreach { b =>
      val (got, want) = (HitsRelation.toDF(spark, b), reference(b))
      val what = s"block of ${b.qids.length} queries, ${b.docs.length} hits"
      assert(got.schema == want.schema, what)
      assert(got.collect().toSeq == want.collect().toSeq, what)
      assert(got.count() == want.count(), what)
      assert(got.where($"rank" === 1).collect().toSeq == want.where($"rank" === 1).collect().toSeq,
        what)
      assert(got.as[Hit].collect().toSeq == want.as[Hit].collect().toSeq, what)
      assert(got.head(3).toSeq == want.head(3).toSeq, what)
      assert(got.orderBy($"score_micro".desc).collect().toSeq ==
        want.orderBy($"score_micro".desc).collect().toSeq, what)
    }
  }

  test("hits relation: self-join, union with the local relation, parquet round trip") {
    val root = java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    blocks.zipWithIndex.foreach { case (b, i) =>
      val (got, want) = (HitsRelation.toDF(spark, b), reference(b))
      val what = s"block of ${b.qids.length} queries, ${b.docs.length} hits"
      assert(got.join(got, Seq("query_id", "rank")).count() ==
        want.join(want, Seq("query_id", "rank")).count(), what)
      assert(sorted(got.union(want).collect()) == sorted(want.union(want).collect()), what)
      val dir = java.nio.file.Files.createTempDirectory(root, s"hits$i").toAbsolutePath.toString
      try {
        got.write.mode("overwrite").parquet(dir)
        assert(sorted(spark.read.parquet(dir).collect()) == sorted(want.collect()), what)
      } finally org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("hits relation: collect() starts no job; equal blocks explain alike, by row count") {
    import org.apache.spark.TestBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val b = blocks.last
    val df = HitsRelation.toDF(spark, b)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    TestBus.drain(sc)
    sc.addSparkListener(counter)
    try {
      assert(df.collect().length == b.docs.length)
      TestBus.drain(sc)
    } finally sc.removeSparkListener(counter)
    assert(jobs.get == 0, s"${jobs.get} jobs for collect()")
    // a second block equal to the first, as a separate object; attribute
    // ids differ per frame, so they are masked
    val copy = new TopK.Block(b.qids.clone, b.off.clone, b.docs.clone, b.scores.clone)
    def explain(d: DataFrame): String =
      d.queryExecution.explainString(ExplainMode.fromString("extended")).replaceAll("#\\d+L?", "#")
    assert(explain(df) == explain(HitsRelation.toDF(spark, copy)))
    val plan = df.queryExecution.executedPlan.treeString
    assert(plan.replaceAll("#\\d+L?", "").trim ==
      s"HitsScan [query_id, rank, doc_id, score_micro], ${b.docs.length} rows", plan)
  }
}
