package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.extra._
import java.nio.file.{Files, Paths}
import scala.util.{Failure, Success, Try}

/** Crash consistency of the writers that commit through IndexBuild's
  * commit path. Each writer replaces a committed artifact built from the
  * same input, on [[CrashFs]] killed at its Nth delete or rename, for
  * every N until a run completes. After each kill the dir must either
  * refuse to open loudly (naming the dir) or open to exactly the
  * committed content, and a resume must complete it to content identical
  * to a fresh write. */
class CrashSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.sparkContext.hadoopConfiguration.set(s"fs.${CrashFs.Scheme}.impl",
      classOf[CrashFs].getName)
    s
  }

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(Paths.get("target").toAbsolutePath, prefix).toString

  /** Kill `write` at every mutation N = 1, 2, … and check the dir after
    * each kill (`open`: the reader's gate, then the content) and after
    * `resume` (`content`). Returns the mutations of a full run. Tiny jobs
    * run without adaptive execution and on one shuffle partition, and the
    * killed tasks' logs are silenced (all restored): the spec is hundreds
    * of writes long. */
  private def everyKill[C](dir: String, fresh: C)(write: => Unit)(open: => C)(
      content: => C)(resume: => Unit): Long = {
    val conf = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "1")
    val saved = conf.map { case (k, _) => k -> spark.conf.get(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.setLogLevel("OFF")
    try {
      var n = 1L
      var completed = false
      while (!completed) {
        val (ops, outcome) = CrashFs.run(n)(write)
        completed = outcome.isRight
        assert(completed == (ops < n), s"mutation $n: ops=$ops outcome=$outcome")
        Try(open) match {
          case Success(c) => if (c != fresh) fail(s"killed at mutation $n, $dir opens torn")
          case Failure(e) =>
            assert(Option(e.getMessage).exists(_.contains(dir)),
              s"killed at mutation $n, $dir fails to open without naming itself: $e")
        }
        resume
        if (content != fresh) fail(s"killed at mutation $n, $dir resumes to other content")
        n += 1
      }
      n - 1
    } finally {
      saved.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.sparkContext.setLogLevel("WARN") // TestSpark's level
    }
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("positions sidecar: a writeBuild killed at any delete or rename refuses to open or resumes to the fresh content") {
    import spark.implicits._
    val docs = Stats.readDocuments(spark, "/root/testdata/sf0.001")
      .where($"doc_id" < 48).coalesce(1)
    def build(d: String, resume: Boolean = false): Unit =
      Positional.writeBuild(spark, docs, d, width = 16, numPartitions = 2,
        resume = resume)
    def content(d: String) = (
      Positional.read(spark, d).collect().toSeq
        .flatMap(r => Positional.decodeRow(r)
          .map(p => (r.term, r.bucket, p.doc_id, p.dl, p.positions.toSeq)))
        .sortBy(p => (p._1, p._2, p._3)),
      sorted(spark.read.parquet(Positional.manifestDir(d))),
      Positional.readMeta(spark, d))
    val ref = s"${tmpDir("crash-pos-ref")}/positions"
    build(ref)
    val fresh = content(ref)
    assert(fresh._1.nonEmpty && fresh._2.size == 2)
    val dir = s"${CrashFs.Scheme}://${tmpDir("crash-pos")}/positions"
    build(dir)
    val ops = everyKill(dir, fresh)(build(dir))(content(dir))(content(dir))(
      build(dir, resume = true))
    assert(ops > 10, s"only $ops mutations — the kill enumeration lost its teeth")
  }

  test("IVF and IVF-PQ indexes: a write killed at any delete or rename refuses to open or resumes to the fresh content") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where($"vec_id" < 40).coalesce(1)
    val queries = emb.where($"vec_id" < 4)
    val kc = 2

    def ivf(d: String, resume: Boolean = false): Unit =
      AnnIndex.write(spark, emb, d, kc = kc, iters = 1, resume = resume)
    def ivfContent(d: String) = (
      sorted(AnnIndex.readCells(spark, d)),
      AnnIndex.loadCentroids(spark, d).map(_.toSeq).toSeq,
      sorted(spark.read.parquet(AnnIndex.manifestDir(d))),
      AnnIndex.readMeta(spark, d))
    val ivfRef = tmpDir("crash-ivf-ref")
    ivf(ivfRef)
    val ivfDir = s"${CrashFs.Scheme}://${tmpDir("crash-ivf")}"
    ivf(ivfDir)
    // open = the query path: topk's commit gate, then the content
    val ivfOps = everyKill(ivfDir, ivfContent(ivfRef))(ivf(ivfDir))({
      AnnIndex.topk(spark, ivfDir, queries, nprobe = kc).count()
      ivfContent(ivfDir)
    })(ivfContent(ivfDir))(ivf(ivfDir, resume = true))
    assert(ivfOps > 10, s"only $ivfOps mutations")

    def pq(d: String, resume: Boolean = false): Unit =
      AnnIndexPq.write(spark, emb, d, kc = kc, ks = 4, kmIters = 1, pqIters = 0,
        trainSampleInv = 2, resume = resume)
    def pqContent(d: String) = (
      sorted(AnnIndexPq.readCodes(spark, d)),
      AnnIndexPq.loadCodebooks(spark, d).map(_.map(_.toSeq).toSeq).toSeq,
      sorted(spark.read.parquet(AnnIndexPq.manifestDir(d))),
      AnnIndexPq.readMeta(spark, d))
    val pqRef = tmpDir("crash-ivfpq-ref")
    pq(pqRef)
    val pqDir = s"${CrashFs.Scheme}://${tmpDir("crash-ivfpq")}"
    pq(pqDir)
    val pqOps = everyKill(pqDir, pqContent(pqRef))(pq(pqDir))({
      AnnIndexPq.topk(spark, pqDir, queries, emb, nprobe = kc).count()
      pqContent(pqDir)
    })(pqContent(pqDir))(pq(pqDir, resume = true))
    assert(pqOps > 10, s"only $pqOps mutations")
  }
}
