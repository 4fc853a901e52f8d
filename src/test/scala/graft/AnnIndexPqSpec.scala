package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.extra._
import java.nio.file.Files

/** The composed persisted IVF∘PQ index (reference flagship:
  * encode-in-insert, per-cell code files, probed-cells-only ADC,
  * persisted quantizer). */
class AnnIndexPqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.01"
  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def tmpDir(): String =
    Files.createTempDirectory(java.nio.file.Paths.get("/root/repo/target"), "ivfpq").toString

  private def collectTopk(df: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    df.as[(Long, Int, Long, Long)].collect().toSeq
  }

  test("lossless config through persistence == exact-L2 scan; codebooks round-trip; query trains nothing") {
    import spark.implicits._
    val dir = tmpDir()
    val got = collectTopk(AnnIndexPq.ivfPqTopkLossless(spark, emb, dir))
    // exact-L2 ground truth via the same canonical fold as the SQL oracle
    val q = emb.where($"vec_id" < Ann.NumQueryVecs)
      .select($"vec_id".as("query_vec_id"), $"embedding".as("qe"))
    val exact = broadcast(q).join(emb, $"vec_id" =!= $"query_vec_id")
      .select($"query_vec_id", $"vec_id", Pq.l2Col($"qe", $"embedding").as("l2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_vec_id").orderBy($"l2".asc, $"vec_id".asc)
    val truth = collectTopk(exact.withColumn("rank", row_number().over(w))
      .where($"rank" <= Ann.K)
      .select($"query_vec_id", $"rank".cast("int").as("rank"), $"vec_id",
        floor($"l2" * 1e6 + 0.5).cast("long").as("l2_micro")))
      .sortBy(r => (r._1, r._2))
    assert(got == truth)
    // persistence: meta is the commit point; codebooks reload bit-equal
    val meta = AnnIndexPq.readMeta(spark, dir)
    assert(meta.n_vecs == emb.count() && meta.kc == Ann.KmKc && meta.m == Pq.M)
    val cb = AnnIndexPq.loadCodebooks(spark, dir)
    assert(cb.length == Pq.M && cb.forall(_.length == meta.ks))
    // a SECOND query against the already-written index (no write call —
    // nothing retrains) reproduces the result from the persisted models
    val again = collectTopk(AnnIndexPq.topk(spark, dir,
      emb.where($"vec_id" < Ann.NumQueryVecs), emb, nprobe = Ann.KmKc))
    assert(again == truth)
  }

  test("pruned query reads ONLY probed cell partitions; lossy config keeps recall; codes are M small ids") {
    import spark.implicits._
    val dir = tmpDir()
    val meta = AnnIndexPq.write(spark, emb, dir) // lossy production config
    // plan evidence: probing is a parquet PARTITION filter on the codes dir
    val probed = AnnIndexPq.readCodes(spark, dir).where($"cell".isin(0, 1, 2))
    val planStr = probed.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") && planStr.contains("cell"),
      s"cell partition filter missing:\n$planStr")
    // probed subset is a strict subset of the corpus (pruning does work)
    val probedRows = probed.count()
    assert(probedRows > 0 && probedRows < meta.n_vecs)
    // codes: M ids in [0, ks) — one byte each at ks<=256 vs 64 raw floats
    val codes = AnnIndexPq.readCodes(spark, dir)
      .select($"vec_id", $"code").as[(Long, Seq[Int])].collect()
    assert(codes.length == meta.n_vecs)
    assert(codes.forall(c => c._2.length == Pq.M && c._2.forall(x => x >= 0 && x < meta.ks)))
    // recall at nprobe=8 of 16 against the exact L2 scan (reference
    // Recall@k; L2 truth — the index ranks by L2, not cosine)
    val q = emb.where($"vec_id" < Ann.NumQueryVecs)
      .select($"vec_id".as("query_vec_id"), $"embedding".as("qe"))
    val exact = broadcast(q).join(emb, $"vec_id" =!= $"query_vec_id")
      .select($"query_vec_id", $"vec_id", Pq.l2Col($"qe", $"embedding").as("l2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_vec_id").orderBy($"l2".asc, $"vec_id".asc)
    val truth = exact.withColumn("rank", row_number().over(w))
      .where($"rank" <= Ann.K)
      .select($"query_vec_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pruned = AnnIndexPq.topk(spark, dir,
      emb.where($"vec_id" < Ann.NumQueryVecs), emb, nprobe = 8)
      .as[(Long, Int, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recall = truth.keys.toSeq.map { qid =>
      (truth(qid) intersect pruned.getOrElse(qid, Set.empty)).size.toDouble /
        truth(qid).size
    }.sum / truth.size
    assert(recall >= 0.4, s"recall=$recall")
    // deterministic build: a rebuild converges to identical models
    val dir2 = tmpDir()
    AnnIndexPq.write(spark, emb, dir2)
    assert(AnnIndexPq.loadCodebooks(spark, dir).map(_.map(_.toSeq).toSeq).toSeq ==
      AnnIndexPq.loadCodebooks(spark, dir2).map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("kill-and-resume: interrupted write (partial manifest, no meta) completes to identical content") {
    import spark.implicits._
    val full = tmpDir(); val partial = tmpDir()
    AnnIndexPq.write(spark, emb, full)
    AnnIndexPq.write(spark, emb, partial)
    // simulate a kill after SOME cells committed: drop half the cell dirs
    // + their manifest rows + the meta commit marker (mirrors
    // DiskIndexSpec's interrupted-build shape)
    val allCells = spark.read.parquet(AnnIndexPq.manifestDir(partial))
      .select($"cell").as[Int].collect().toSeq.sorted
    val killed = allCells.zipWithIndex.collect { case (c, i) if i % 2 == 1 => c }
    assert(killed.nonEmpty)
    def rmPath(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmPath); f.delete(); ()
    }
    killed.foreach(c => rmPath(new java.io.File(s"$partial/codes/cell=$c")))
    val kept = spark.read.parquet(AnnIndexPq.manifestDir(partial))
      .where(!$"cell".isin(killed: _*)).collect()
    val schema = spark.read.parquet(AnnIndexPq.manifestDir(partial)).schema
    rmPath(new java.io.File(AnnIndexPq.manifestDir(partial)))
    spark.createDataFrame(spark.sparkContext.parallelize(kept.toSeq), schema)
      .write.parquet(AnnIndexPq.manifestDir(partial))
    rmPath(new java.io.File(s"$partial/meta"))

    // resume fills exactly the gap: codes identical, manifest complete,
    // models untouched (no retrain — the committed codebooks are reused)
    AnnIndexPq.write(spark, emb, partial, resume = true)
    def codesOf(d: String) = AnnIndexPq.readCodes(spark, d)
      .as[(Long, Seq[Int], Int)].collect().toSeq.sortBy(_._1)
    assert(codesOf(partial) == codesOf(full))
    assert(spark.read.parquet(AnnIndexPq.manifestDir(partial))
      .select($"cell").as[Int].collect().toSet == allCells.toSet)
    val q = emb.where($"vec_id" < Ann.NumQueryVecs)
    assert(collectTopk(AnnIndexPq.topk(spark, partial, q, emb, nprobe = 8)) ==
      collectTopk(AnnIndexPq.topk(spark, full, q, emb, nprobe = 8)))
    // a resume on the COMPLETE index is a no-op (meta = commit point)
    val before = codesOf(partial)
    AnnIndexPq.write(spark, emb, partial, resume = true)
    assert(codesOf(partial) == before)
  }

  test("kill-and-resume for the plain IVF index (cells layout)") {
    import spark.implicits._
    val full = tmpDir(); val partial = tmpDir()
    AnnIndex.write(spark, emb, full)
    AnnIndex.write(spark, emb, partial)
    val allCells = spark.read.parquet(AnnIndex.manifestDir(partial))
      .select($"cell").as[Int].collect().toSeq.sorted
    val killed = allCells.take(allCells.size / 2)
    assert(killed.nonEmpty)
    def rmPath(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmPath); f.delete(); ()
    }
    killed.foreach(c => rmPath(new java.io.File(s"$partial/cells/cell=$c")))
    val kept = spark.read.parquet(AnnIndex.manifestDir(partial))
      .where(!$"cell".isin(killed: _*)).collect()
    val schema = spark.read.parquet(AnnIndex.manifestDir(partial)).schema
    rmPath(new java.io.File(AnnIndex.manifestDir(partial)))
    spark.createDataFrame(spark.sparkContext.parallelize(kept.toSeq), schema)
      .write.parquet(AnnIndex.manifestDir(partial))
    rmPath(new java.io.File(s"$partial/meta"))
    AnnIndex.write(spark, emb, partial, resume = true)
    def cellsOf(d: String) = AnnIndex.readCells(spark, d)
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toSeq.sortBy(_._1)
    assert(cellsOf(partial) == cellsOf(full))
    val q = emb.where($"vec_id" < Ann.NumQueryVecs)
    def res(d: String) = AnnIndex.topk(spark, d, q, nprobe = 4)
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(res(partial) == res(full))
  }

  test("resume after a kill MID-model-write retrains instead of wedging") {
    import spark.implicits._
    // a kill while the centroids/codebooks parquet is in flight leaves
    // the dir PRESENT but without the committer's _SUCCESS marker — a
    // resume that trusted bare existence would crash on schema inference
    // at every retry, so the advertised recovery could never complete
    val fullIvf = tmpDir(); val wedgedIvf = tmpDir()
    AnnIndex.write(spark, emb, fullIvf)
    new java.io.File(s"$wedgedIvf/centroids").mkdirs()
    AnnIndex.write(spark, emb, wedgedIvf, resume = true) // must retrain
    def cellsOf(d: String) = AnnIndex.readCells(spark, d)
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toSeq.sortBy(_._1)
    assert(cellsOf(wedgedIvf) == cellsOf(fullIvf)) // deterministic fit
    // same window for the PQ index's two model artifacts
    val fullPq = tmpDir(); val wedgedPq = tmpDir()
    AnnIndexPq.write(spark, emb, fullPq)
    new java.io.File(s"$wedgedPq/codebooks").mkdirs()
    AnnIndexPq.write(spark, emb, wedgedPq, resume = true)
    def codesOf(d: String) = AnnIndexPq.readCodes(spark, d)
      .as[(Long, Seq[Int], Int)].collect().toSeq.sortBy(_._1)
    assert(codesOf(wedgedPq) == codesOf(fullPq))
  }

  test("PQ codebooks: all M subspaces in one Lloyd loop == per-subspace kmeansFit, 1 + iters jobs") {
    import org.apache.spark.TestBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val train = AnnIndex.trainSample(emb, 4)
    train.schema // resolve the scan before counting
    for (iters <- Seq(0, 2, 8)) {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val counter = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      }
      TestBus.drain(sc)
      sc.addSparkListener(counter)
      val cb = try Pq.trainCodebooks(train, Pq.Ks, iters) finally {
        TestBus.drain(sc)
        sc.removeSparkListener(counter)
      }
      // adaptive execution runs a shuffle's map stage as a job of its own
      val perIter = if (spark.conf.get("spark.sql.adaptive.enabled").toBoolean) 2 else 1
      assert(jobs.get <= 1 + perIter * iters, s"${jobs.get} jobs for iters=$iters")
      (0 until Pq.M).foreach { m =>
        val alone = Ann.kmeansFit(train.select(col("vec_id"), Pq.subCol(m).as("embedding")),
          Pq.Ks, iters)
        assert(cb(m).map(_.toSeq).toSeq == alone.map(_.toSeq).toSeq, s"subspace $m, iters=$iters")
      }
    }
  }
}
