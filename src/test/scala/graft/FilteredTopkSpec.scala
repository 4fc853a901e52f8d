package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Attribute-filtered retrieval ([[Attrs]] virtual posting lists narrow
  * each bucket's term lists as they decode): every serving shape must
  * equal the exact global-stats-semi-join oracle [[Oracle.topkFiltered]],
  * and the filter must compose with conjunctive (AND) semantics. */
class FilteredTopkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.01"
  private val attr = "lang"
  private val values = Seq("es", "de")

  private def tmpDir(): String =
    Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "fidx").toString

  private def rows(df: DataFrame): Seq[(Int, Int, Long, Long)] = {
    import spark.implicits._
    df.select(col("query_id"), col("rank"), col("doc_id"), col("score_micro"))
      .as[(Int, Int, Long, Long)].collect().toSeq
  }

  private lazy val docs = Stats.readDocuments(spark, sfDir)
  private lazy val oracle = rows(Oracle.topkFiltered(spark, docs, attr, values))
  private lazy val langOf: Map[Long, String] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("lang"))
      .as[(Long, String)].collect().toMap
  }

  /** One serving root with term + derived doc-partitioned layout + attrs,
    * shared across the path tests. */
  private lazy val root: String = {
    val r = tmpDir()
    IndexBuild.writeIndex(spark, docs, s"$r/term", SparkEntry.testConfig)
    IndexBuild.deriveDocPartitioned(spark, s"$r/term", s"$r/serve")
    Attrs.writeAttrs(spark, docs, s"$r/serve", Seq(attr))
    Attrs.writeAttrs(spark, docs, s"$r/term", Seq(attr))
    r
  }

  test("filtered serving query == exact semi-join oracle (doc-partitioned, uncached)") {
    assert(oracle.nonEmpty)
    // the filter changes results vs unfiltered (otherwise this spec tests nothing)
    val unfiltered = rows(Oracle.topk(spark, docs))
    assert(oracle != unfiltered)
    val got = rows(QueryEngine.runOnIndex(spark, s"$root/serve",
      filter = Some((attr, values))))
    assert(got == oracle)
    // every hit doc satisfies the predicate
    got.foreach { case (_, _, d, _) => assert(values.contains(langOf(d))) }
  }

  test("filtered query from the cached serving handle == oracle; handle serves both modes") {
    val h = QueryEngine.openIndex(spark, s"$root/serve")
    try {
      assert(h.attrsCached)
      val got = rows(QueryEngine.runOnHandle(spark, h, filter = Some((attr, values))))
      assert(got == oracle)
      // the SAME cached handle still answers unfiltered batches exactly
      val unf = rows(QueryEngine.runOnHandle(spark, h))
      assert(unf == rows(Oracle.topk(spark, docs)))
    } finally h.close()
  }

  test("sidecar written AFTER open: cache lacks filter lists, handle falls back and stays exact") {
    val r = tmpDir()
    IndexBuild.writeIndex(spark, docs, s"$r/term",
      SparkEntry.testConfig.copy(docPartitioned = true))
    val h = QueryEngine.openIndex(spark, s"$r/term")
    try {
      assert(!h.attrsCached)
      Attrs.writeAttrs(spark, docs, s"$r/term", Seq(attr))
      val got = rows(QueryEngine.runOnHandle(spark, h, filter = Some((attr, values))))
      assert(got == oracle)
    } finally h.close()
  }

  test("filtered query over the TERM-partitioned layout (rebucket fallback) == oracle") {
    val got = rows(QueryEngine.runOnIndex(spark, s"$root/term",
      filter = Some((attr, values))))
    assert(got == oracle)
  }

  test("in-memory run() with unioned filter rows reroutes and == oracle") {
    val (postings, _, meta) = {
      val (p, stats, m) = IndexBuild.buildPostings(spark, docs, SparkEntry.testConfig)
      (p, stats, m)
    }
    val cs = Stats.corpus(docs)
    import spark.implicits._
    val termDf = Stats.termStats(Stats.tfRows(docs))
      .select($"term", $"df").as[(String, Long)].collect().toMap
    val fTerms = values.map(Attrs.filterTerm(attr, _))
    val p = QueryEngine.plan(cs, termDf)
      .copy(bucketWidth = SparkEntry.testConfig.bucketWidth, filterTerms = fTerms)
    val filterLists = Attrs.attrPostings(spark, docs, attr,
      SparkEntry.testConfig.bucketWidth, Codec.BlockSize)
      .where($"term".isin(fTerms: _*))
    val got = rows(QueryEngine.run(spark, postings.union(filterLists), p))
    assert(got == oracle)
  }

  test("single-value and empty-value filters behave") {
    // majority value: the narrowed lists stay long, so multi-term queries
    // take the dense scan (fused path, chunk skip, TA walk)
    val en = rows(QueryEngine.runOnIndex(spark, s"$root/serve",
      filter = Some((attr, Seq("en")))))
    assert(en == rows(Oracle.topkFiltered(spark, docs, attr, Seq("en"))))
    // value absent from the corpus: no candidates anywhere
    val none = rows(QueryEngine.runOnIndex(spark, s"$root/serve",
      filter = Some((attr, Seq("xx_nonexistent")))))
    assert(none.isEmpty)
    // EMPTY value list: `attr IN ()` matches nothing — it must not
    // silently degrade to the unfiltered batch
    val empty = QueryEngine.runOnIndex(spark, s"$root/serve",
      filter = Some((attr, Seq.empty)))
    assert(empty.columns.toSeq ==
      Seq("query_id", "rank", "doc_id", "score_micro"))
    assert(rows(empty).isEmpty)
  }

  test("rebuild without resume clears the attribute sidecar (no stale filter lists)") {
    import spark.implicits._
    val r = tmpDir()
    val mk = (langs: Seq[String]) => langs.zipWithIndex
      .map { case (l, i) => (i.toLong, s"alpha w$i", l) }
      .toDF("doc_id", "text", "lang")
    val cfg = IndexBuild.Config(numPartitions = 2, bucketWidth = 8,
      headDf = 16, docPartitioned = true)
    IndexBuild.writeIndex(spark, mk(Seq.fill(16)("old")), r, cfg)
    Attrs.writeAttrs(spark, mk(Seq.fill(16)("old")), r, Seq("lang"))
    assert(Attrs.hasAttrs(spark, r))
    // rebuild the SAME dir from a different corpus: the old sidecar's
    // lists describe docs of the old corpus and must not survive
    val docs2 = mk(Seq.fill(16)("new"))
    IndexBuild.writeIndex(spark, docs2, r, cfg)
    assert(!Attrs.hasAttrs(spark, r))
    Attrs.writeAttrs(spark, docs2, r, Seq("lang"))
    val qs = Seq((1, Seq("alpha")))
    val got = rows(QueryEngine.runOnIndex(spark, r, queries = qs, k = 5,
      filter = Some(("lang", Seq("new")))))
    assert(got == rows(Oracle.topkFiltered(spark, docs2, "lang", Seq("new"),
      k = 5, queries = qs)))
    assert(got.nonEmpty)
  }

  test("filter composes with conjunctive (AND) semantics") {
    // ground truth: FULL-depth conjunctive ranking (k >= N so nothing is
    // cut), then the predicate, then re-rank — top-k of a filtered set
    // is not the filter of the top-k, so the depth matters
    val n = docs.count().toInt
    val full = rows(QueryEngine.runOnIndex(spark, s"$root/serve",
      k = n + 1, conjunctive = true))
    val expected = full
      .filter { case (_, _, d, _) => values.contains(langOf(d)) }
      .groupBy(_._1).toSeq
      .flatMap { case (qid, hs) =>
        hs.sortBy(h => (-h._4, h._3)).take(QuerySet.K).zipWithIndex
          .map { case ((_, _, d, s), i) => (qid, i + 1, d, s) }
      }
      .sortBy(h => (h._1, h._2))
    val got = rows(QueryEngine.runOnIndex(spark, s"$root/serve",
      conjunctive = true, filter = Some((attr, values))))
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("range filter (n_chars BETWEEN) == exact range oracle on every serving shape") {
    val (lo, hi) = (120.0, 260.0)
    // the range sidecar shares the root: add n_chars lists alongside lang
    val r = tmpDir()
    IndexBuild.writeIndex(spark, docs, s"$r/term", SparkEntry.testConfig)
    IndexBuild.deriveDocPartitioned(spark, s"$r/term", s"$r/serve")
    Attrs.writeAttrs(spark, docs, s"$r/serve", Seq("lang", "n_chars"))
    Attrs.writeAttrs(spark, docs, s"$r/term", Seq("lang", "n_chars"))
    val expected = rows(Oracle.topkFilteredRange(spark, docs, "n_chars", lo, hi))
    assert(expected.nonEmpty)
    assert(expected != rows(Oracle.topk(spark, docs))) // the range actually cuts
    // doc-partitioned, uncached
    assert(rows(QueryEngine.runOnIndex(spark, s"$r/serve",
      rangeFilter = Some(("n_chars", lo, hi)))) == expected)
    // cached handle: the cache holds EVERY attr's lists (lang too) — the
    // scorer-side value parse must select only the in-range n_chars lists
    val h = QueryEngine.openIndex(spark, s"$r/serve")
    try {
      assert(rows(QueryEngine.runOnHandle(spark, h,
        rangeFilter = Some(("n_chars", lo, hi)))) == expected)
      // same handle still serves IN filters and unfiltered batches
      assert(rows(QueryEngine.runOnHandle(spark, h,
        filter = Some((attr, values)))) == oracle)
      assert(rows(QueryEngine.runOnHandle(spark, h)) ==
        rows(Oracle.topk(spark, docs)))
    } finally h.close()
    // term-partitioned rebucket fallback
    assert(rows(QueryEngine.runOnIndex(spark, s"$r/term",
      rangeFilter = Some(("n_chars", lo, hi)))) == expected)
    // an empty range (lo > hi) selects no lists and must match NOTHING
    assert(rows(QueryEngine.runOnIndex(spark, s"$r/serve",
      rangeFilter = Some(("n_chars", hi, lo)))).isEmpty)
  }

  test("stale (pre-version) sidecar fails loudly instead of matching nothing") {
    import spark.implicits._
    val r = tmpDir()
    val sdf = (0L until 16L).map(i => (i, s"alpha w$i", "en"))
      .toDF("doc_id", "text", "lang")
    val cfg = IndexBuild.Config(numPartitions = 2, bucketWidth = 8,
      headDf = 16, docPartitioned = true)
    IndexBuild.writeIndex(spark, sdf, r, cfg)
    Attrs.writeAttrs(spark, sdf, r, Seq("lang"))
    // simulate a sidecar from a previous on-disk format: rows present,
    // version marker absent (pre-versioning sidecars look exactly so)
    val marker = new org.apache.hadoop.fs.Path(s"${Attrs.attrsDir(r)}/_sidecar_meta.json")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(marker, false)
    assert(!Attrs.hasAttrs(spark, r))
    val e = intercept[IllegalArgumentException] {
      QueryEngine.runOnIndex(spark, r, queries = Seq((1, Seq("alpha"))),
        filter = Some(("lang", Seq("en")))).collect()
    }
    assert(e.getMessage.contains("sidecar"))
  }

  test("a filter on an attr the sidecar does not hold refuses on every route; a cached batch reads no marker") {
    import spark.implicits._
    val sdf = (0L until 48L).map(i => (i, s"alpha w${i % 5}", if (i % 3 == 0) "de" else "en", i * 10))
      .toDF("doc_id", "text", "lang", "n_chars")
    val r = tmpDir()
    val cfg = IndexBuild.Config(numPartitions = 2, bucketWidth = 8, headDf = 4)
    IndexBuild.writeIndex(spark, sdf, s"$r/term", cfg)
    IndexBuild.writeIndex(spark, sdf, s"$r/doc", cfg.copy(docPartitioned = true))
    Seq("term", "doc").foreach(l => Attrs.writeAttrs(spark, sdf, s"$r/$l", Seq("lang")))
    val qs = Seq((1, Seq("alpha", "w2")))
    def refused(run: => DataFrame): Unit = {
      val e = intercept[IllegalArgumentException](rows(run))
      assert(e.getMessage.contains("'n_chars'") && e.getMessage.contains("[lang]"),
        e.getMessage)
    }
    val h = QueryEngine.openIndex(spark, s"$r/doc")
    try {
      assert(h.attrsCached)
      for (l <- Seq("term", "doc")) {
        refused(QueryEngine.runOnIndex(spark, s"$r/$l", qs,
          filter = Some(("n_chars", Seq("10")))))
        refused(QueryEngine.runOnIndex(spark, s"$r/$l", qs,
          rangeFilter = Some(("n_chars", 0.0, 100.0))))
      }
      refused(QueryEngine.runOnHandle(spark, h, qs, filter = Some(("n_chars", Seq("10")))))
      refused(QueryEngine.runOnHandle(spark, h, qs, rangeFilter = Some(("n_chars", 0.0, 100.0))))
      // the cached handle read its sidecar's marker at open: without the
      // marker it still answers (and refuses) from memory
      val marker = new org.apache.hadoop.fs.Path(s"${Attrs.attrsDir(s"$r/doc")}/_sidecar_meta.json")
      marker.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(marker, false)
      assert(rows(QueryEngine.runOnHandle(spark, h, qs, k = 5,
        filter = Some(("lang", Seq("de"))))) ==
        rows(Oracle.topkFiltered(spark, sdf, "lang", Seq("de"), k = 5, queries = qs)))
      refused(QueryEngine.runOnHandle(spark, h, qs, filter = Some(("n_chars", Seq("10")))))
    } finally h.close()
  }

  test("empty-bucket masking: a bucket with zero matching docs is skipped, results exact") {
    import spark.implicits._
    // synthetic corpus where the predicate value exists ONLY in the last
    // docId range: every other bucket must be masked out entirely
    val width = 8
    val ds = (0L until 64L).map { i =>
      val lang = if (i >= 56) "keep" else "drop"
      (i, s"alpha beta w$i ${if (i % 2 == 0) "gamma" else "delta"}", lang)
    }
    val sdf = ds.toDF("doc_id", "text", "lang")
    val r = tmpDir()
    val cfg = IndexBuild.Config(numPartitions = 4, bucketWidth = width,
      headDf = 16, docPartitioned = true)
    IndexBuild.writeIndex(spark, sdf, r, cfg)
    Attrs.writeAttrs(spark, sdf, r, Seq("lang"))
    val qs = Seq((1, Seq("alpha")), (2, Seq("gamma", "delta")))
    val got = rows(QueryEngine.runOnIndex(spark, r, queries = qs, k = 5,
      filter = Some(("lang", Seq("keep")))))
    val expected = rows(Oracle.topkFiltered(spark, sdf, "lang", Seq("keep"),
      k = 5, queries = qs))
    assert(got == expected)
    got.foreach { case (_, _, d, _) => assert(d >= 56) }
  }
}
