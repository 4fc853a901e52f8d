package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Seeded end-to-end fuzz: random corpora × random build configs ×
  * random query batches, disk-indexed in BOTH layouts, must be
  * rank-identical to the exact oracle. Exercises the interactions the
  * targeted specs pin individually: sparse docIds across bucket ranges,
  * sampled head salting (inv > 1) with max_bucket routing, the
  * head-heavy rebucket fallback, zero-token docs, unknown query terms,
  * and tie-breaking under heavy score collisions. */
class RandomizedEngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(): String =
    Files.createTempDirectory(java.nio.file.Paths.get("/root/repo/target"), "fuzz").toString

  test("random corpora + configs + queries: disk index == oracle (8 seeded rounds, both layouts)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260817L)
    val vocab = ('a' to 'o').map(c => s"w$c") // 15 terms → heavy collisions
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"rank", $"doc_id", $"score_micro")
        .as[(Int, Int, Long, Long)].collect().toSeq
    for (iter <- 1 to 8) {
      val n = 30 + rnd.nextInt(120)
      var id = 0L
      val docRows = (0 until n).map { _ =>
        id += 1 + rnd.nextInt(5) // sparse, gappy docIds
        val len = rnd.nextInt(40) // zero-token docs included
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val docs = docRows.toDF("doc_id", "text")
      val cfg = IndexBuild.Config(
        numPartitions = 4 + rnd.nextInt(12),
        bucketWidth = 8 + rnd.nextInt(56),
        headDf = 2 + rnd.nextInt(18),
        headSampleInv = 1 + rnd.nextInt(4),
        docPartitioned = iter % 2 == 0,
        codec = if (rnd.nextBoolean()) Codec.PForId else Codec.VByteId)
      val queries = (1 to 4).map { qid =>
        val nt = 1 + rnd.nextInt(3)
        val ts = Seq.fill(nt)(vocab(rnd.nextInt(vocab.size))) ++
          (if (rnd.nextBoolean()) Seq("zz_unknown") else Nil)
        (qid, ts.distinct)
      }
      val dir = tmpDir()
      IndexBuild.writeIndex(spark, docs, dir, cfg)
      val got = QueryEngine.runOnIndex(spark, dir, queries)
        .as[(Int, Int, Long, Long)].collect().toSeq
      val oracle = Oracle.topk(spark, docs, queries = queries)
        .as[(Int, Int, Long, Long)].collect().toSeq
      assert(got == oracle,
        s"iter=$iter cfg=$cfg queries=$queries: indexed != oracle")

      // The other serving routes on the same round. Their draws come from
      // a second generator, so the rounds above stay as they were.
      val ctx = s"iter=$iter cfg=$cfg"
      val arnd = new scala.util.Random(20260817L + iter)
      // in-memory run over the built postings
      val (postings, ts, cs) = IndexBuild.buildPostings(spark, docs, cfg)
      val termDf = ts.select($"term", $"df").as[(String, Long)].collect().toMap
      assert(rows(QueryEngine.run(spark, postings, QueryEngine.plan(cs, termDf, queries))) ==
        oracle, s"$ctx: in-memory run != oracle")
      // a term-partitioned batch over every vocab term: more (term,
      // bucket) pairs than the partition-pruning size guard allows, so
      // the whole index is scanned and re-bucketed
      val guardDir = tmpDir()
      val guardCfg = cfg.copy(docPartitioned = false, numPartitions = 2)
      IndexBuild.writeIndex(spark, docs, guardDir, guardCfg)
      val maxBucket = IndexBuild.readTermStats(spark, guardDir)
        .select($"term", $"max_bucket").as[(String, Int)].collect().toMap
      val wide = vocab.grouped(3).zipWithIndex.map { case (ts, i) => (i + 1, ts) }.toSeq
      assert(wide.flatMap(_._2).distinct.flatMap(maxBucket.get).map(_ + 1L).sum >
        4L * guardCfg.numPartitions, s"$ctx: the wide batch no longer trips the guard")
      assert(rows(QueryEngine.runOnIndex(spark, guardDir, wide)) ==
        rows(Oracle.topk(spark, docs, queries = wide)), s"$ctx: unpruned batch != oracle")
      // an IN and a range filter on seeded attr columns
      val attrDocs = docRows.map { case (d, t) =>
        (d, t, Seq("x", "y", "z")(arnd.nextInt(3)), arnd.nextInt(50))
      }.toDF("doc_id", "text", "lang", "num")
      Attrs.writeAttrs(spark, attrDocs, dir, Seq("lang", "num"))
      val values = Seq("x", "y", "z").filter(_ => arnd.nextBoolean())
      val (lo, hi) = { val a = arnd.nextInt(50); (a.toDouble, (a + arnd.nextInt(25)).toDouble) }
      val inWant = rows(Oracle.topkFiltered(spark, attrDocs, "lang", values, queries = queries))
      val rangeWant = rows(Oracle.topkFilteredRange(spark, attrDocs, "num", lo, hi,
        queries = queries))
      assert(rows(QueryEngine.runOnIndex(spark, dir, queries,
        filter = Some(("lang", values)))) == inWant, s"$ctx: IN $values != oracle")
      assert(rows(QueryEngine.runOnIndex(spark, dir, queries,
        rangeFilter = Some(("num", lo, hi)))) == rangeWant, s"$ctx: [$lo, $hi] != oracle")
      // a cached handle on the doc-partitioned rounds
      if (cfg.docPartitioned) {
        val h = QueryEngine.openIndex(spark, dir)
        try {
          assert(rows(QueryEngine.runOnHandle(spark, h, queries)) == oracle,
            s"$ctx: cached != oracle")
          assert(rows(QueryEngine.runOnHandle(spark, h, queries,
            filter = Some(("lang", values)))) == inWant, s"$ctx: cached IN != oracle")
          assert(rows(QueryEngine.runOnHandle(spark, h, queries,
            rangeFilter = Some(("num", lo, hi)))) == rangeWant, s"$ctx: cached range != oracle")
        } finally h.close()
      }
    }
  }

  test("random micro-batch chunkings: streamed ingest + compaction == one-shot build (5 seeded rounds)") {
    import spark.implicits._
    import graft.streaming.StreamIngest
    val rnd = new scala.util.Random(20260818L)
    val vocab = ('a' to 'o').map(c => s"w$c")
    for (iter <- 1 to 5) {
      val n = 30 + rnd.nextInt(90)
      val pages = (0 until n).map { i =>
        val len = rnd.nextInt(30)
        val text = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
        (f"https://x.org/${rnd.nextInt(1000)}%03d/$i", text)
      }
      val cfg = IndexBuild.Config(
        numPartitions = 4 + rnd.nextInt(8),
        bucketWidth = 8 + rnd.nextInt(56),
        headDf = 2 + rnd.nextInt(18),
        docPartitioned = iter % 2 == 0)
      // random chunking, empty chunks included
      val nChunks = 1 + rnd.nextInt(4)
      val chunks: Seq[Seq[(String, String)]] = {
        val base = pages.grouped(math.max(1, n / nChunks)).toSeq
        if (rnd.nextBoolean()) base :+ Seq.empty else base
      }
      val workDir = tmpDir()
      val tierFactor = 2 + rnd.nextInt(2) // fuzz the tier policy too
      chunks.zipWithIndex.foreach { case (ch, id) =>
        val wrapped = ch.map { case (u, t) =>
          (u, s"<html><body>$t</body></html>".getBytes("UTF-8"))
        }.toDF("url", "html")
        StreamIngest.ingestBatch(spark, wrapped, workDir, cfg, id.toLong)
        if (rnd.nextBoolean()) StreamIngest.tierUp(spark, workDir, tierFactor)
      }
      // expected corpus: per-chunk url rank + monotone offsets
      var offset = 0L
      val expected = chunks.flatMap { ch =>
        val rows = ch.sortBy(_._1).zipWithIndex.map { case ((u, t), i) =>
          (offset + i, t)
        }
        offset += ch.size
        rows
      }
      val oneShot = tmpDir(); val serving = tmpDir()
      IndexBuild.writeIndex(spark, expected.toDF("doc_id", "text"), oneShot, cfg)
      StreamIngest.compact(spark, workDir, serving)
      val dec = (d: String) => IndexBuild.readSegments(spark, d)
        .flatMap(Codec.decodeAll _).as[Posting]
        .collect().toSeq.sortBy(p => (p.term, p.doc_id))
      assert(dec(serving) == dec(oneShot),
        s"iter=$iter chunks=${chunks.map(_.size)} cfg=$cfg: streamed != one-shot")
    }
  }
}
