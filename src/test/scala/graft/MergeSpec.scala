package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Segment merge: merging per-half indexes must reproduce the single
  * full build EXACTLY (stats, postings bytes, query results) — the
  * FIXTURES.md §6 contract (reference analog: LoadFromBook unioning
  * per-cluster segment files). */
class MergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.01"

  private def tmpDir(): String =
    Files.createTempDirectory(java.nio.file.Paths.get("/root/repo/target"), "mrg").toString

  test("merge(halves) == single full build (interleaved doc_id % 2 split)") {
    import spark.implicits._
    val docs = Stats.readDocuments(spark, sfDir).cache()
    val full = tmpDir(); val h0 = tmpDir(); val h1 = tmpDir(); val merged = tmpDir()
    IndexBuild.writeIndex(spark, docs, full, SparkEntry.testConfig)
    IndexBuild.writeIndex(spark, docs.where($"doc_id" % 2 === 0), h0, SparkEntry.testConfig)
    IndexBuild.writeIndex(spark, docs.where($"doc_id" % 2 === 1), h1, SparkEntry.testConfig)
    Merge.mergeIndexes(spark, Seq(h0, h1), merged)

    // meta identical
    assert(IndexBuild.readMeta(spark, merged) == IndexBuild.readMeta(spark, full))
    // stats identical
    val st = (d: String) => spark.read.parquet(s"$d/stats/terms")
      .select($"term", $"df", $"cf", $"max_bucket")
      .as[(String, Long, Long, Int)].collect().toSeq.sortBy(_._1)
    assert(st(merged) == st(full))
    // posting rows identical INCLUDING compressed block bytes
    val rows = (d: String) => IndexBuild.readSegments(spark, d).collect().toSeq
      .sortBy(r => (r.term, r.bucket))
      .map(r => (r.part_id, r.term, r.bucket, r.n, r.min_doc,
        r.blocks.map(b => (b.max_doc, b.n, b.max_tf, b.min_dl, b.bytes.toSeq))))
    assert(rows(merged) == rows(full))
    // query results identical to the exact oracle
    val q = (d: String) => QueryEngine.runOnIndex(spark, d)
      .as[(Int, Int, Long, Long)].collect().toSeq
    val oracle = Oracle.topk(spark, docs).as[(Int, Int, Long, Long)].collect().toSeq
    assert(q(merged) == oracle && q(full) == oracle)
    docs.unpersist()
  }

  test("merge(halves) == single full build under the PFor codec (codec carried via meta)") {
    import spark.implicits._
    val docs = Stats.readDocuments(spark, "/root/testdata/sf0.001").cache()
    val cfg = SparkEntry.testConfig.copy(codec = Codec.PForId)
    val full = tmpDir(); val h0 = tmpDir(); val h1 = tmpDir(); val merged = tmpDir()
    IndexBuild.writeIndex(spark, docs, full, cfg)
    IndexBuild.writeIndex(spark, docs.where($"doc_id" % 2 === 0), h0, cfg)
    IndexBuild.writeIndex(spark, docs.where($"doc_id" % 2 === 1), h1, cfg)
    assert(IndexBuild.readMeta(spark, h0).codec == Codec.PForId)
    Merge.mergeIndexes(spark, Seq(h0, h1), merged)
    // bit-identity INCLUDING block bytes: the re-encoding merge must emit
    // the inputs' codec, not the Config default (round-5 fix — a merged
    // PFor index silently came back VByte)
    assert(IndexBuild.readMeta(spark, merged) == IndexBuild.readMeta(spark, full))
    val rows = (d: String) => IndexBuild.readSegments(spark, d).collect().toSeq
      .sortBy(r => (r.term, r.bucket))
      .map(r => (r.part_id, r.term, r.bucket, r.n, r.min_doc,
        r.blocks.map(b => (b.max_doc, b.n, b.max_tf, b.min_dl, b.bytes.toSeq))))
    assert(rows(merged) == rows(full))
    docs.unpersist()
  }

  test("three-way merge in two passes == one three-way merge") {
    import spark.implicits._
    val docs = Stats.readDocuments(spark, "/root/testdata/sf0.001").cache()
    val parts = (0 until 3).map { i =>
      val d = tmpDir()
      IndexBuild.writeIndex(spark, docs.where($"doc_id" % 3 === i), d, SparkEntry.testConfig)
      d
    }
    val onePass = tmpDir(); val twoPassA = tmpDir(); val twoPass = tmpDir()
    Merge.mergeIndexes(spark, parts, onePass)
    Merge.mergeIndexes(spark, parts.take(2), twoPassA)
    Merge.mergeIndexes(spark, Seq(twoPassA, parts(2)), twoPass)
    val rows = (d: String) => IndexBuild.readSegments(spark, d).collect().toSeq
      .sortBy(r => (r.term, r.bucket))
      .map(r => (r.part_id, r.term, r.bucket, r.n, r.min_doc,
        r.blocks.map(b => (b.max_doc, b.n, b.max_tf, b.min_dl, b.bytes.toSeq))))
    assert(rows(onePass) == rows(twoPass))
    docs.unpersist()
  }

  test("concat fast merge (disjoint docId intervals): posting-identical, query-identical") {
    import spark.implicits._
    val docs = Stats.readDocuments(spark, sfDir).cache()
    val mid = 250L // sf0.01 has doc_id 0..499 — two disjoint INTERVALS
    val full = tmpDir(); val lo = tmpDir(); val hi = tmpDir(); val merged = tmpDir()
    IndexBuild.writeIndex(spark, docs, full, SparkEntry.testConfig)
    IndexBuild.writeIndex(spark, docs.where($"doc_id" < mid), lo, SparkEntry.testConfig)
    IndexBuild.writeIndex(spark, docs.where($"doc_id" >= mid), hi, SparkEntry.testConfig)
    Merge.concatMergeIndexes(spark, Seq(lo, hi), merged)

    // stats and meta identical to the full build (exact additive merge).
    // max_bucket is a LAYOUT column: concat preserves the inputs' layout
    // (each half's head terms were below headDf -> unsalted), so it is
    // compared against the inputs, not the (re-salted) full build.
    assert(IndexBuild.readMeta(spark, merged) == IndexBuild.readMeta(spark, full))
    val st = (d: String) => spark.read.parquet(s"$d/stats/terms")
      .select($"term", $"df", $"cf")
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(st(merged) == st(full))
    val maxB = (d: String) => spark.read.parquet(s"$d/stats/terms")
      .select($"term", $"max_bucket").as[(String, Int)].collect().toMap
    val inB = (maxB(lo).toSeq ++ maxB(hi).toSeq).groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(_._2).max }
    assert(maxB(merged) == inB)
    // POSTING-identical (block boundaries may differ — no decode happened)
    val dec = (d: String) => IndexBuild.readSegments(spark, d)
      .flatMap(Codec.decodeAll _).as[Posting]
      .collect().toSeq.sortBy(p => (p.term, p.doc_id))
    assert(dec(merged) == dec(full))
    // per-row invariants survive concat: n/cf/min_doc consistent with blocks
    IndexBuild.readSegments(spark, merged).collect().foreach { r =>
      assert(r.n == r.blocks.map(_.n.toLong).sum)
      val ps = Codec.decodeAll(r)
      assert(r.cf == ps.map(_.tf).sum && r.min_doc == ps.head.doc_id)
      assert(ps.map(_.doc_id) == ps.map(_.doc_id).sorted)
    }
    // query results identical to the exact oracle
    val q = QueryEngine.runOnIndex(spark, merged)
      .as[(Int, Int, Long, Long)].collect().toSeq
    val oracle = Oracle.topk(spark, docs).as[(Int, Int, Long, Long)].collect().toSeq
    assert(q == oracle)

    // interleaved inputs are rejected (must use the re-encoding merge)
    val e0 = tmpDir(); val e1 = tmpDir(); val bad = tmpDir()
    IndexBuild.writeIndex(spark, docs.where($"doc_id" % 2 === 0), e0, SparkEntry.testConfig)
    IndexBuild.writeIndex(spark, docs.where($"doc_id" % 2 === 1), e1, SparkEntry.testConfig)
    // rejected DRIVER-SIDE (meta interval check) before anything is
    // written: a bad merge must not leave a half-written outDir
    val ex = intercept[IllegalArgumentException] {
      Merge.concatMergeIndexes(spark, Seq(e0, e1), bad)
    }
    assert(ex.getMessage.contains("overlap"))
    assert(!new java.io.File(s"$bad/stats/meta").exists)
    docs.unpersist()
  }

  /** Build two indexes over `split` of the corpus, give both the attrs +
    * positions sidecars, merge, and return (mergedDir, docs). */
  private def mergedWithSidecars(concat: Boolean): (String, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val docs = Stats.readDocuments(spark, sfDir)
    val cfgServe = SparkEntry.testConfig
    val halves =
      if (concat) Seq(docs.where($"doc_id" < 250L), docs.where($"doc_id" >= 250L))
      else Seq(docs.where($"doc_id" % 2 === 0), docs.where($"doc_id" % 2 === 1))
    val dirs = halves.map { h =>
      val d = tmpDir()
      IndexBuild.writeIndex(spark, h, d, cfgServe)
      Attrs.writeAttrs(spark, h, d, Seq("lang", "n_chars"))
      Positional.writeBuild(spark, h, Positional.positionsDir(d),
        cfgServe.bucketWidth, cfgServe.numPartitions)
      d
    }
    val merged = tmpDir()
    if (concat) Merge.concatMergeIndexes(spark, dirs, merged)
    else Merge.mergeIndexes(spark, dirs, merged)
    (merged, docs)
  }

  /** Round-4 VERDICT #2: a merged index silently lost its sidecars —
    * filtered and phrase queries must survive BOTH merge flavors and
    * match the single-build/oracle answers exactly. */
  private def sidecarChecks(concat: Boolean): Unit = {
    import spark.implicits._
    val (merged, docs) = mergedWithSidecars(concat)
    assert(Attrs.hasAttrs(spark, merged))
    assert(Positional.hasPositions(spark, Positional.positionsDir(merged)))
    val rows = (df: org.apache.spark.sql.DataFrame) =>
      df.as[(Int, Int, Long, Long)].collect().toSeq
    // filtered query over the MERGED index == exact filtered oracle
    val gotIn = rows(QueryEngine.runOnIndex(spark, merged,
      filter = Some(("lang", Seq("es", "de")))))
    assert(gotIn == rows(Oracle.topkFiltered(spark, docs, "lang", Seq("es", "de"))))
    assert(gotIn.nonEmpty)
    // range-filtered too (the sidecar carries every attr it had)
    val gotR = rows(QueryEngine.runOnIndex(spark, merged,
      rangeFilter = Some(("n_chars", 120.0, 260.0))))
    assert(gotR == rows(Oracle.topkFilteredRange(spark, docs, "n_chars", 120.0, 260.0)))
    assert(gotR.nonEmpty)
    // phrase query over the MERGED positions == the single-build sidecar
    val cs = Stats.corpus(docs)
    val single = tmpPosDirBuild(docs)
    val tk = (pos: org.apache.spark.sql.Dataset[Positional.PosRow]) =>
      Positional.phraseTopK(spark, pos, PhraseSet.phrases, PhraseSet.K,
        cs.n_docs, cs.avgdl).as[(Int, Int, Long, Long)].collect().toSeq
    val got = tk(Positional.read(spark, Positional.positionsDir(merged)))
    assert(got == tk(single) && got.nonEmpty)
    // the re-encoding merge rebuilds the union's exact filter lists,
    // block bytes included (concat keeps its inputs' block cuts)
    if (!concat) {
      val meta = IndexBuild.readMeta(spark, merged)
      def norm(ds: org.apache.spark.sql.Dataset[PostingRow]) = ds.collect().toSeq
        .map(r => (r.part_id, r.term, r.bucket, r.n, r.cf, r.min_doc,
          r.blocks.map(b => (b.max_doc, b.n, b.max_tf, b.min_dl, b.codec, b.bytes.toSeq))))
        .sortBy(t => (t._2, t._3))
      val want = Seq("lang", "n_chars")
        .map(Attrs.attrPostings(spark, docs, _, meta.bucket_width, meta.block_size))
        .reduce(_ union _)
      assert(norm(Attrs.allFilterRows(spark, merged)) == norm(want))
    }
  }

  private def tmpPosDirBuild(docs: org.apache.spark.sql.DataFrame) = {
    val d = s"${tmpDir()}/positions"
    Positional.write(Positional.build(spark, docs, SparkEntry.testConfig.bucketWidth),
      d, SparkEntry.testConfig.bucketWidth, SparkEntry.testConfig.numPartitions)
    Positional.read(spark, d)
  }

  test("concat merge carries attrs + positions: filtered/range/phrase queries stay exact") {
    sidecarChecks(concat = true)
  }

  test("interleaved merge carries attrs + positions: filtered/range/phrase queries stay exact") {
    sidecarChecks(concat = false)
  }

  test("mixed sidecar presence refuses loudly; dropSidecars opts out") {
    import spark.implicits._
    val docs = Stats.readDocuments(spark, "/root/testdata/sf0.001")
    val cfg = SparkEntry.testConfig
    val halves = Seq(docs.where($"doc_id" < 250L), docs.where($"doc_id" >= 250L))
    /** Two indexes over the halves, input i given sidecars by `side(i)`. */
    def pair(side: Int => (org.apache.spark.sql.DataFrame, String) => Unit): Seq[String] =
      halves.zipWithIndex.map { case (h, i) =>
        val d = tmpDir()
        IndexBuild.writeIndex(spark, h, d, cfg)
        side(i)(h, d)
        d
      }
    val noSidecar = (_: org.apache.spark.sql.DataFrame, _: String) => ()
    def attrs(cols: String*) = (h: org.apache.spark.sql.DataFrame, d: String) =>
      Attrs.writeAttrs(spark, h, d, cols)
    def positions(width: Long) = (h: org.apache.spark.sql.DataFrame, d: String) =>
      Positional.writeBuild(spark, h, Positional.positionsDir(d), width, cfg.numPartitions)
    // one input has attrs, the other doesn't: a merged index would
    // silently answer filtered queries from half the corpus
    val Seq(a, b) = pair(Seq(attrs("lang"), noSidecar))
    // present on both but of unequal geometry: no merged sidecar could
    // serve both inputs' filters / phrase buckets
    val refusals = Seq(
      Seq(a, b) -> "sidecar",
      pair(Seq(attrs("lang"), attrs("n_chars"))) -> "mismatched attr column sets",
      pair(Seq(positions(cfg.bucketWidth), positions(cfg.bucketWidth * 2))) ->
        "mismatched positions geometry")
    // every check runs before the target is cleared or written: an
    // existing index there still opens, untouched
    val target = tmpDir()
    val targetMeta = IndexBuild.writeIndex(spark, docs.where($"doc_id" < 100L), target, cfg)
    val targetRows = IndexBuild.readSegments(spark, target).count()
    for ((inputs, msg) <- refusals;
         merge <- Seq[String => IndexBuild.Meta](
           Merge.concatMergeIndexes(spark, inputs, _),
           Merge.mergeIndexes(spark, inputs, _))) {
      val e = intercept[IllegalArgumentException](merge(target))
      assert(e.getMessage.contains(msg), e.getMessage)
      assert(IndexBuild.readMeta(spark, target) == targetMeta)
      assert(IndexBuild.readSegments(spark, target).count() == targetRows)
    }
    // explicit opt-out merges without the sidecar
    val out = tmpDir()
    Merge.concatMergeIndexes(spark, Seq(a, b), out, dropSidecars = true)
    assert(!Attrs.hasAttrs(spark, out))
    assert(IndexBuild.readMeta(spark, out).n_docs == docs.count())
  }
}
