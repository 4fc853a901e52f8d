package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Positional sidecar + phrase matching: codec round-trip, phrase hits vs
  * a naive token-window scan (property fuzz over random corpora including
  * repeated-word phrases and overlapping occurrences), and the end-to-end
  * top-k's rank order. */
class PositionalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("PosRow encode/decode round-trip (property)") {
    val rnd = new Random(7)
    (0 until 100).foreach { _ =>
      val nDocs = 1 + rnd.nextInt(8)
      var doc = rnd.nextInt(5).toLong
      val docs = (0 until nDocs).map { _ =>
        doc += 1 + rnd.nextInt(100)
        val npos = 1 + rnd.nextInt(6)
        var p = rnd.nextInt(3)
        val pos = (0 until npos).map { _ => p += 1 + rnd.nextInt(9); p }.toArray
        (doc, 1 + rnd.nextInt(200), pos)
      }
      val row = Positional.encodeRow("t", 3, docs)
      assert(row.n == nDocs && row.min_doc == docs.head._1)
      val back = Positional.decodeRow(row)
      assert(back.map(d => (d.doc_id, d.dl, d.positions.toSeq)) ==
        docs.map(d => (d._1, d._2, d._3.toSeq)))
    }
  }

  /** Naive phrase tf: count sliding-window matches over the token list
    * (overlapping starts count). */
  private def naiveTf(tokens: Seq[String], phrase: Seq[String]): Int =
    tokens.sliding(phrase.size).count(_ == phrase)

  test("phraseHits == naive sliding-window scan (property fuzz)") {
    val rnd = new Random(99)
    import spark.implicits._
    (0 until 5).foreach { round =>
      val vocab = Vector("a", "b", "c", "d")
      val corpus = (0 until 40).map { i =>
        val n = 3 + rnd.nextInt(30)
        (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      } :+ ((40L, null: String)) // null text: no tokens, no positions
      val docsDf = corpus.toDF("doc_id", "text")
      val phrases = Seq(
        1 -> Seq("a", "b"),
        2 -> Seq("a", "a"),            // repeated word, overlapping starts
        3 -> Seq("b", "c", "d"),
        4 -> Seq("a", "a", "a"),
        5 -> Seq("a", "zz")            // absent term
      )
      val pos = Positional.build(spark, docsDf, width = 8)
      val got = Positional.phraseHits(spark, pos, phrases)
        .as[(Int, Long, Long, Long)].collect().toSet
      val want = (for {
        (pid, ph) <- phrases
        (doc, text) <- corpus
        toks = Option(text).map(Tokenize.tokenize).getOrElse(Seq.empty)
        tf = naiveTf(toks, ph) if tf > 0
      } yield (pid, doc, tf.toLong, toks.size.toLong)).toSet
      assert(got == want, s"round $round: got=$got want=$want")
    }
  }

  /** Naive ordered-proximity tf: #position pairs (pa, pb) of (t1, t2)
    * with 1 ≤ pb − pa ≤ slop + 1. */
  private def naiveProxTf(tokens: Seq[String], t1: String, t2: String,
                          slop: Int): Int = {
    val pa = tokens.zipWithIndex.collect { case (t, i) if t == t1 => i }
    val pb = tokens.zipWithIndex.collect { case (t, i) if t == t2 => i }
    pa.map(a => pb.count(b => b > a && b <= a + slop + 1)).sum
  }

  test("proximityHits == naive window count; slop 0 == phrase (property fuzz)") {
    val rnd = new Random(2024)
    import spark.implicits._
    (0 until 5).foreach { round =>
      val vocab = Vector("a", "b", "c")
      val corpus = (0 until 30).map { i =>
        val n = 3 + rnd.nextInt(25)
        (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val docsDf = corpus.toDF("doc_id", "text")
      val pairs = Seq(
        (1, "a", "b", 0), (2, "a", "b", 3), (3, "a", "a", 2),
        (4, "b", "c", 1), (5, "a", "zz", 4))
      val pos = Positional.build(spark, docsDf, width = 8)
      val got = Positional.proximityHits(spark, pos, pairs)
        .as[(Int, Long, Long, Long)].collect().toSet
      val want = (for {
        (pid, t1, t2, slop) <- pairs
        (doc, text) <- corpus
        toks = Tokenize.tokenize(text)
        tf = naiveProxTf(toks, t1, t2, slop) if tf > 0
      } yield (pid, doc, tf.toLong, toks.size.toLong)).toSet
      assert(got == want, s"round $round")
      // slop 0 ≡ the bigram phrase
      val phr = Positional.phraseHits(spark, pos, Seq(1 -> Seq("a", "b")))
        .as[(Int, Long, Long, Long)].collect().toSet
      assert(phr == got.filter(_._1 == 1), s"round $round: slop0 != phrase")
    }
  }

  test("phraseTopK: frozen order, dense ranks, absent-term phrases empty") {
    import spark.implicits._
    val docsDf = Stats.readDocuments(spark, "/root/testdata/sf0.001")
    val cs = Stats.corpus(docsDf)
    val pos = Positional.build(spark, docsDf, width = 128)
    val out = Positional.phraseTopK(spark, pos, PhraseSet.phrases,
      PhraseSet.K, cs.n_docs, cs.avgdl)
      .as[(Int, Int, Long, Long)].collect().toSeq
    assert(out.nonEmpty)
    // phrase 6 contains 'plan' (absent from the corpus) — must match nothing
    assert(!out.exists(_._1 == 6))
    out.groupBy(_._1).foreach { case (pid, hs) =>
      assert(hs.map(_._2).sorted == (1 to hs.length), s"ranks not dense for p$pid")
      val sorted = hs.sortBy(h => (-h._4, h._3))
      assert(hs.sortBy(_._2).map(h => (h._3, h._4)) == sorted.map(h => (h._3, h._4)),
        s"order not frozen for p$pid")
    }
  }

  private def tmpPosDir(): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "pos").toString + "/positions"

  private def decoded(dir: String): Set[(String, Int, Long, Int, Seq[Int])] = {
    import spark.implicits._
    Positional.read(spark, dir).collect().toSet[Positional.PosRow]
      .flatMap(r => Positional.decodeRow(r)
        .map(d => (r.term, r.bucket, d.doc_id, d.dl, d.positions.toSeq)))
  }

  test("sidecar lifecycle: meta-last commit — disk round-trip exact, killed write refuses to open") {
    import spark.implicits._
    val docsDf = Stats.readDocuments(spark, "/root/testdata/sf0.001")
    val cs = Stats.corpus(docsDf)
    val dir = tmpPosDir()
    val pos = Positional.build(spark, docsDf, width = 128)
    Positional.write(pos, dir, width = 128, numPartitions = 8)
    def tk(p: org.apache.spark.sql.Dataset[Positional.PosRow]) =
      Positional.phraseTopK(spark, p, PhraseSet.phrases, PhraseSet.K,
        cs.n_docs, cs.avgdl).as[(Int, Int, Long, Long)].collect().toSeq
    val viaDisk = tk(Positional.read(spark, dir))
    assert(viaDisk == tk(pos) && viaDisk.nonEmpty)
    // kill window: segments + manifest written, meta-last commit never ran
    val meta = new org.apache.hadoop.fs.Path(s"$dir/meta")
    meta.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(meta, false)
    assert(!Positional.hasPositions(spark, dir))
    val e = intercept[IllegalArgumentException](Positional.read(spark, dir))
    assert(e.getMessage.contains("positions sidecar"))
  }

  test("writeBuild kill-and-resume: partial manifest completes to content identical to fresh") {
    import spark.implicits._
    val docsDf = Stats.readDocuments(spark, "/root/testdata/sf0.001")
    val cs = Stats.corpus(docsDf)
    val full = tmpPosDir(); val partial = tmpPosDir()
    Positional.writeBuild(spark, docsDf, full, width = 128, numPartitions = 8)
    Positional.writeBuild(spark, docsDf, partial, width = 128, numPartitions = 8)
    // simulate a kill: drop two part_ids' segments, strip their manifest
    // rows, and remove the meta (a killed run never reached its commit)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Seq(1, 2).foreach { p =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"${Positional.segmentsDir(partial)}/part_id=$p"), true)
    }
    val kept = spark.read.parquet(Positional.manifestDir(partial))
      .where(!$"part_id".isin(1, 2)).collect()
    val keptDf = spark.createDataFrame(
      spark.sparkContext.parallelize(kept.toSeq),
      spark.read.parquet(Positional.manifestDir(partial)).schema)
    keptDf.write.mode("overwrite").parquet(s"$partial/manifest2")
    fs.delete(new org.apache.hadoop.fs.Path(Positional.manifestDir(partial)), true)
    spark.read.parquet(s"$partial/manifest2")
      .write.parquet(Positional.manifestDir(partial))
    fs.delete(new org.apache.hadoop.fs.Path(s"$partial/meta"), false)
    assert(!Positional.hasPositions(spark, partial))
    // resume fills exactly the gap and commits
    Positional.writeBuild(spark, docsDf, partial, width = 128,
      numPartitions = 8, resume = true)
    assert(decoded(partial) == decoded(full))
    def tk(dir: String) =
      Positional.phraseTopK(spark, Positional.read(spark, dir),
        PhraseSet.phrases, PhraseSet.K, cs.n_docs, cs.avgdl)
        .as[(Int, Int, Long, Long)].collect().toSeq
    assert(tk(partial) == tk(full) && tk(full).nonEmpty)
  }

  test("conjunctive topk: every hit contains ALL query terms; subset of disjunctive candidates") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val docsDf = Stats.readDocuments(spark, sfDir)
    val conj = SparkEntry.queries("q_topk_conj")(spark, sfDir)
      .as[(Int, Int, Long, Long)].collect().toSeq
    assert(conj.nonEmpty)
    val textById = docsDf.select($"doc_id", $"text").as[(Long, String)]
      .collect().toMap
    val qterms = QuerySet.queryTerms.toMap
    conj.foreach { case (qid, _, doc, _) =>
      val toks = Tokenize.tokenize(textById(doc)).toSet
      assert(qterms(qid).forall(toks.contains),
        s"q$qid doc $doc missing a query term")
    }
    // absent-term queries (6, 17, 20) match nothing under AND
    assert(!conj.exists(h => Set(6, 17, 20).contains(h._1)))
  }
}
