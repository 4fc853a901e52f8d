package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Disk segment lifecycle: write → prune-read → query == oracle; resume
  * rebuilds only missing partitions and converges to identical content
  * (reference analog: LoadFromBook idempotent selective load, S12). */
class DiskIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.01"

  private def tmpDir(): String = {
    val d = Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "idx").toString
    d
  }

  private def queryRows(dir: String): Seq[(Int, Int, Long, Long)] = {
    import spark.implicits._
    QueryEngine.runOnIndex(spark, dir)
      .as[(Int, Int, Long, Long)].collect().toSeq
  }

  test("disk index query (pruned) == exact oracle") {
    import spark.implicits._
    val docs = Stats.readDocuments(spark, sfDir)
    val dir = tmpDir()
    IndexBuild.writeIndex(spark, docs, dir, SparkEntry.testConfig)
    val got = queryRows(dir)
    val oracle = Oracle.topk(spark, docs)
      .as[(Int, Int, Long, Long)].collect().toSeq
    assert(got == oracle)
    // manifest covers every written partition exactly once
    val manifest = spark.read.parquet(IndexBuild.manifestDir(dir))
      .select($"part_id").as[Int].collect().toSeq
    assert(manifest.distinct.length == manifest.length)
  }

  test("partition pruning: rare-term query reads a strict subset of partitions") {
    val docs = Stats.readDocuments(spark, sfDir)
    val dir = tmpDir()
    val meta = IndexBuild.writeIndex(spark, docs, dir, SparkEntry.testConfig)
    // 'dup' is rare → unsalted (max_bucket 0 in the persisted stats) →
    // exactly one candidate partition
    import spark.implicits._
    val dupMaxBucket = spark.read.parquet(s"$dir/stats/terms")
      .where($"term" === "dup").select($"max_bucket").as[Int].head()
    assert(dupMaxBucket == 0)
    val pairs = QueryEngine.candidatePairs(Map("dup" -> dupMaxBucket), Seq((3, Seq("dup"))))
    assert(pairs == Seq(("dup", 0)))
    val partIds = QueryEngine.candidatePartIds(meta, pairs)
    assert(partIds.length == 1)
    // and the pruned query still matches the oracle restricted to q3
    import spark.implicits._
    val got = QueryEngine.runOnIndex(spark, dir, Seq((3, Seq("dup"))))
      .as[(Int, Int, Long, Long)].collect().toSeq
    val oracle = Oracle.topk(spark, docs)
      .as[(Int, Int, Long, Long)].collect().toSeq.filter(_._1 == 3)
    assert(got == oracle)
  }

  test("doc-partitioned serving index: batched query == oracle; partitions are doc ranges") {
    import spark.implicits._
    val docs = Stats.readDocuments(spark, sfDir)
    val dir = tmpDir()
    val cfg = SparkEntry.testConfig.copy(docPartitioned = true)
    IndexBuild.writeIndex(spark, docs, dir, cfg)
    val got = queryRows(dir) // dispatches to runDocPartitioned via meta
    val oracle = Oracle.topk(spark, docs)
      .as[(Int, Int, Long, Long)].collect().toSeq
    assert(got == oracle)
    // every (term,bucket) row respects its doc range and part = bucket % P
    IndexBuild.readSegments(spark, dir).collect().foreach { r =>
      assert(r.part_id == r.bucket % cfg.numPartitions)
      Codec.decodeAll(r).foreach(p =>
        assert(p.doc_id / cfg.bucketWidth == r.bucket))
    }
  }

  test("sampled-head salting: routing follows persisted max_bucket, not df (headSampleInv>1)") {
    import spark.implicits._
    // Adversarial corpus for the sample/exact disagreement: term 'trap'
    // appears only in docs with doc_id % 8 == 0, so EVERY occurrence is
    // inside the headSampleInv=4 sample (doc_id % 4 == 0). Sampled df
    // estimate = 8*4 = 32 > headDf=10 → the build SALTS it into docId
    // buckets; exact df = 8 ≤ headDf → df-based routing would prune to
    // (trap, 0) only and silently drop the postings in buckets 1..3.
    val docs = (0L until 64L).map { d =>
      val words = Seq(s"w$d", "common") ++ (if (d % 8 == 0) Seq("trap") else Nil)
      (d, words.mkString(" "))
    }.toDF("doc_id", "text")
    val cfg = IndexBuild.Config(numPartitions = 8, bucketWidth = 16,
      headDf = 10, headSampleInv = 4)
    val dir = tmpDir()
    IndexBuild.writeIndex(spark, docs, dir, cfg)
    // the scenario is live: trap really was salted beyond bucket 0
    val trapMaxBucket = spark.read.parquet(s"$dir/stats/terms")
      .where($"term" === "trap").select($"max_bucket").as[Int].head()
    assert(trapMaxBucket == 3, "corpus no longer exercises the sampled-salting mismatch")
    val queries = Seq((1, Seq("trap")), (2, Seq("common", "trap")))
    val got = QueryEngine.runOnIndex(spark, dir, queries)
      .as[(Int, Int, Long, Long)].collect().toSeq
    val oracle = Oracle.topk(spark, docs, queries = queries)
      .as[(Int, Int, Long, Long)].collect().toSeq
    assert(got == oracle)
    // all 8 trap docs surface for q1 (k=10 > 8); df-based pruning returned 2
    assert(got.count(_._1 == 1) == 8)
  }

  test("head-heavy batch on a term-partitioned index: re-bucketed TAAT path, bounded tasks, == oracle") {
    import spark.implicits._
    // every doc contains the head term; 'rare' straddles range boundaries
    val docs = (0L until 1024L).map { d =>
      val extra = if (d == 3 || d == 500 || d == 900) " rare" else ""
      (d, s"the w$d$extra")
    }.toDF("doc_id", "text")
    val cfg = IndexBuild.Config(numPartitions = 4, bucketWidth = 32, headDf = 50)
    val dir = tmpDir()
    val meta = IndexBuild.writeIndex(spark, docs, dir, cfg)
    val maxBucket = spark.read.parquet(s"$dir/stats/terms")
      .select($"term", $"max_bucket").as[(String, Int)].collect().toMap
    // the head query abandons partition pruning (32 buckets > 4*P=16)...
    val headQ = Seq((1, Seq("the")), (2, Seq("the", "rare")), (3, Seq("rare")))
    assert(QueryEngine.prunedPartIds(meta, maxBucket, headQ).isEmpty)
    // ...while a rare-only batch still prunes to ONE partition
    val rareOnly = QueryEngine.prunedPartIds(meta, maxBucket, Seq((3, Seq("rare"))))
    assert(rareOnly.exists(_.length == 1))
    // re-bucketed rows: per-task per-term work is bounded by bucketWidth
    // and every posting lands inside its row's docId range
    val rebucketed = QueryEngine.rebucketByRange(
      IndexBuild.readSegments(spark, dir), cfg.bucketWidth, cfg.blockSize)
      .collect()
    rebucketed.foreach { r =>
      assert(r.n <= cfg.bucketWidth, s"row ${r.term}/${r.bucket} has ${r.n} postings")
      Codec.decodeAll(r).foreach(pr =>
        assert(pr.doc_id / cfg.bucketWidth == r.bucket))
    }
    // and the served results are rank-identical to the exact oracle —
    // including q2, whose per-doc score sums a range-confined head term
    // with a range-straddling rare term
    val got = QueryEngine.runOnIndex(spark, dir, headQ)
      .as[(Int, Int, Long, Long)].collect().toSeq
    val oracle = Oracle.topk(spark, docs, queries = headQ)
      .as[(Int, Int, Long, Long)].collect().toSeq
    assert(got == oracle)
  }

  // ---- every index writer replaces an existing index dir whole ---------
  // Corpus A (P=32, with attrs + positions sidecars) pre-populates the
  // target; each writer then writes corpus B (P=8) onto it. Dynamic
  // partition overwrite alone would leave A's part_ids >= 8, its manifest
  // rows and its sidecars behind.
  private val cfgA = IndexBuild.Config(numPartitions = 32, bucketWidth = 16, headDf = 20)
  private val cfgB = IndexBuild.Config(numPartitions = 8, bucketWidth = 16, headDf = 20)

  private def corpus(word: String, n: Long) = {
    import spark.implicits._
    (0L until n).map(d => (d, s"$word ${word.take(1)}$d common", if (d % 3 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
  }
  private lazy val corpusA = corpus("alpha", 200)
  private lazy val corpusB = corpus("beta", 50)
  private lazy val halvesB = {
    import spark.implicits._
    Seq(corpusB.where($"doc_id" < 25L), corpusB.where($"doc_id" >= 25L))
  }
  private def built(docs: org.apache.spark.sql.DataFrame): String = {
    val d = tmpDir(); IndexBuild.writeIndex(spark, docs, d, cfgB); d
  }
  private lazy val termB = built(corpusB)
  private lazy val halfDirsB = halvesB.map(built)
  /** A stream work dir whose log holds one batch index per part. */
  private def streamLog(parts: Seq[org.apache.spark.sql.DataFrame]): String = {
    val w = tmpDir()
    parts.zipWithIndex.foreach { case (d, i) =>
      IndexBuild.writeIndex(spark, d, streaming.StreamIngest.batchDir(w, i.toLong), cfgB)
    }
    w
  }
  private lazy val logOne = streamLog(Seq(corpusB))
  private lazy val logTwo = streamLog(halvesB)

  private val writers: Seq[(String, String => Unit)] = Seq(
    "writeIndex" -> (out => IndexBuild.writeIndex(spark, corpusB, out, cfgB)),
    "deriveDocPartitioned" -> (out => IndexBuild.deriveDocPartitioned(spark, termB, out)),
    "mergeIndexes" -> (out => Merge.mergeIndexes(spark, halfDirsB, out)),
    "concatMergeIndexes" -> (out => Merge.concatMergeIndexes(spark, halfDirsB, out)),
    "compact (one unit)" -> (out => streaming.StreamIngest.compact(spark, logOne, out)),
    "compact (two units)" -> (out => streaming.StreamIngest.compact(spark, logTwo, out)))

  writers.foreach { case (name, write) =>
    test(s"rebuild onto a non-empty dir replaces it whole: $name") {
      import spark.implicits._
      val shared = tmpDir(); val fresh = tmpDir()
      IndexBuild.writeIndex(spark, corpusA, shared, cfgA)
      Attrs.writeAttrs(spark, corpusA, shared, Seq("lang"))
      Positional.writeBuild(spark, corpusA, Positional.positionsDir(shared),
        cfgA.bucketWidth, cfgA.numPartitions)
      write(shared)
      write(fresh)
      def decoded(d: String) = IndexBuild.readSegments(spark, d)
        .flatMap(Codec.decodeAll _).as[Posting]
        .collect().toSeq.sortBy(p => (p.term, p.doc_id))
      def stats(d: String) = IndexBuild.readTermStats(spark, d)
        .as[(String, Long, Long, Int)].collect().toSeq.sorted
      def manifest(d: String) = spark.read.parquet(IndexBuild.manifestDir(d))
        .as[(Int, Long, Long)].collect().toSeq.sorted
      assert(decoded(shared) == decoded(fresh))
      assert(stats(shared) == stats(fresh))
      assert(manifest(shared) == manifest(fresh))
      assert(IndexBuild.readMeta(spark, shared) == IndexBuild.readMeta(spark, fresh))
      // no stale sidecar, segment partition or corpus-A term survives
      assert(!Attrs.hasAttrs(spark, shared))
      assert(!new java.io.File(Positional.positionsDir(shared)).exists)
      val parts = new java.io.File(IndexBuild.segmentsDir(shared)).listFiles()
        .filter(_.getName.startsWith("part_id=")).map(_.getName.stripPrefix("part_id=").toInt)
      assert(parts.forall(_ < cfgB.numPartitions))
      assert(!decoded(shared).exists(_.term == "alpha"))
      val q = Seq((1, Seq("beta")), (2, Seq("alpha")), (3, Seq("common")))
      val got = QueryEngine.runOnIndex(spark, shared, q)
        .as[(Int, Int, Long, Long)].collect().toSeq
      val want = QueryEngine.runOnIndex(spark, fresh, q)
        .as[(Int, Int, Long, Long)].collect().toSeq
      assert(got == want && !got.exists(_._1 == 2))
    }
  }

  test("derive and both merges refuse an outDir that is one of their inputs, before clearing it") {
    val (a, b) = (halfDirsB(0), halfDirsB(1))
    val metaA = IndexBuild.readMeta(spark, a)
    // the same dir spelled three ways: compared as qualified Hadoop paths
    Seq(a, s"$a/", s"file:$a").foreach { out =>
      intercept[IllegalArgumentException](IndexBuild.deriveDocPartitioned(spark, a, out))
      intercept[IllegalArgumentException](Merge.mergeIndexes(spark, Seq(a, b), out))
      intercept[IllegalArgumentException](Merge.concatMergeIndexes(spark, Seq(a, b), out))
    }
    assert(IndexBuild.readMeta(spark, a) == metaA)
    assert(IndexBuild.readSegments(spark, a).count() > 0)
  }

  test("index and positions builds leave the session's partitionOverwriteMode alone") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    val dir = tmpDir()
    IndexBuild.writeIndex(spark, corpusB, dir, cfgB)
    IndexBuild.writeIndex(spark, corpusB, dir, cfgB, resume = true)
    Positional.writeBuild(spark, corpusB, Positional.positionsDir(dir),
      cfgB.bucketWidth, cfgB.numPartitions)
    Positional.writeBuild(spark, corpusB, Positional.positionsDir(dir),
      cfgB.bucketWidth, cfgB.numPartitions, resume = true)
    assert(spark.conf.get(key) == "static")
  }

  test("resume: interrupted build (partial manifest) completes to identical content") {
    import spark.implicits._
    val docs = Stats.readDocuments(spark, sfDir)
    val full = tmpDir()
    IndexBuild.writeIndex(spark, docs, full, SparkEntry.testConfig)

    // Simulate an interrupted build: complete index, then delete some
    // partitions' segment dirs AND their manifest rows (as if the job
    // died before writing them).
    val partial = tmpDir()
    IndexBuild.writeIndex(spark, docs, partial, SparkEntry.testConfig)
    val allParts = spark.read.parquet(IndexBuild.manifestDir(partial))
      .select($"part_id").as[Int].collect().toSeq.sorted
    val killed = allParts.take(allParts.length / 2)
    killed.foreach { p =>
      val seg = new java.io.File(s"${IndexBuild.segmentsDir(partial)}/part_id=$p")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(seg)
    }
    // rewrite manifest without the killed partitions
    val kept = spark.read.parquet(IndexBuild.manifestDir(partial))
      .where(!$"part_id".isin(killed: _*)).collect()
    val keptDf = spark.createDataFrame(
      spark.sparkContext.parallelize(kept.toSeq),
      spark.read.parquet(IndexBuild.manifestDir(partial)).schema)
    keptDf.write.mode("overwrite").parquet(s"$partial/manifest2")
    def rmPath(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rmPath); f.delete() }
    rmPath(new java.io.File(IndexBuild.manifestDir(partial)))
    spark.read.parquet(s"$partial/manifest2").write.parquet(IndexBuild.manifestDir(partial))

    // resume fills exactly the gap
    IndexBuild.writeIndex(spark, docs, partial, SparkEntry.testConfig, resume = true)
    val decodedOf = (d: String) => IndexBuild.readSegments(spark, d)
      .flatMap(Codec.decodeAll _).as[Posting]
      .collect().toSeq.sortBy(p => (p.term, p.doc_id))
    assert(decodedOf(partial) == decodedOf(full))
    assert(queryRows(partial) == queryRows(full))
  }

  test("derived serving layout is BIT-identical to a direct doc-partitioned build") {
    import spark.implicits._
    val docs = Stats.readDocuments(spark, sfDir)
    // both codecs: split rare rows must re-encode in the index's own codec
    for (codec <- Seq(Codec.VByteId, Codec.PForId)) {
      val cfg = SparkEntry.testConfig.copy(codec = codec)
      val termDir = tmpDir(); val derivedDir = tmpDir(); val directDir = tmpDir()
      IndexBuild.writeIndex(spark, docs, termDir, cfg)
      IndexBuild.deriveDocPartitioned(spark, termDir, derivedDir)
      IndexBuild.writeIndex(spark, docs, directDir, cfg.copy(docPartitioned = true))
      // full row equality INCLUDING encoded block bytes and codec ids: the
      // derivation must reproduce the direct build's exact segments (head
      // rows pass through; split rare rows re-encode deterministically)
      def rowsOf(d: String) = IndexBuild.readSegments(spark, d).collect().toSeq
        .map(r => (r.part_id, r.term, r.bucket, r.n, r.cf, r.min_doc,
          r.blocks.map(b => (b.max_doc, b.n, b.max_tf, b.min_dl, b.codec, b.bytes.toSeq))))
        .sortBy(t => (t._2, t._3))
      assert(rowsOf(derivedDir) == rowsOf(directDir), s"codec $codec")
      // stats + meta match too (max_bucket flips from salted-only to
      // every-term ranges; the derivation must re-aggregate it)
      def statsOf(d: String) = spark.read.parquet(s"$d/stats/terms")
        .as[(String, Long, Long, Int)].collect().toSeq.sortBy(_._1)
      assert(statsOf(derivedDir) == statsOf(directDir))
      assert(IndexBuild.readMeta(spark, derivedDir) ==
        IndexBuild.readMeta(spark, directDir))
      // and the served batch is identical
      assert(queryRows(derivedDir) == queryRows(directDir))
    }
  }

  test("corpus that tokenizes to ZERO postings still commits, opens and answers empty") {
    import spark.implicits._
    // non-empty corpus, nothing tokenizable: null / empty / punctuation-only
    // text — the segments write emits a fileless dir, which must not wedge
    // the commit tail (schema inference would throw) or the open path.
    // StreamIngest replays a crashed batch forever, so this shape MUST
    // commit (its batches only guard row-emptiness, not token-emptiness).
    val docs = Seq((0L, null: String), (1L, ""), (2L, "!!! ..."))
      .toDF("doc_id", "text")
    val dir = tmpDir()
    val meta = IndexBuild.writeIndex(spark, docs, dir, SparkEntry.testConfig)
    assert(meta.n_docs == 3 && meta.n_tokens == 0)
    val h = QueryEngine.openIndex(spark, dir, cacheServing = false)
    assert(IndexBuild.readSegments(spark, dir).count() == 0)
    assert(queryRows(dir).isEmpty)
  }

  test("an IntegerType doc_id column builds the same index as LongType") {
    import org.apache.spark.sql.functions.col
    // the fused pass reads the doc_id slot raw (toRdd + getLong) — a
    // narrower column must be upcast in the projection, not zero-extended
    val docs = Stats.readDocuments(spark, sfDir)
    val intDocs = docs.withColumn("doc_id", col("doc_id").cast("int"))
    val (longDir, intDir) = (tmpDir(), tmpDir())
    IndexBuild.writeIndex(spark, docs, longDir, SparkEntry.testConfig)
    IndexBuild.writeIndex(spark, intDocs, intDir, SparkEntry.testConfig)
    assert(IndexBuild.readMeta(spark, intDir) == IndexBuild.readMeta(spark, longDir))
    assert(queryRows(intDir) == queryRows(longDir))
  }
}
