package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

/** End-to-end rank-identity over the driver corpus (reference test
  * pattern: index result vs exact ground truth, SURVEY.md §5): the
  * indexed WAND path, the window-oracle and the heap-oracle must agree
  * row-for-row on the frozen query batch. */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rows(df: DataFrame): Seq[(Int, Int, Long, Long)] = {
    import spark.implicits._
    df.select($"query_id", $"rank", $"doc_id", $"score_micro")
      .as[(Int, Int, Long, Long)].collect().toSeq
  }

  private def checkSf(sfDir: String): Unit = {
    val docs = Stats.readDocuments(spark, sfDir)
    val oracle = rows(Oracle.topk(spark, docs))
    assert(oracle.nonEmpty)
    // every query with ≥1 known term has results; ranks are 1..≤k dense
    val byQ = oracle.groupBy(_._1)
    byQ.foreach { case (q, hs) =>
      assert(hs.map(_._2).sorted == (1 to hs.length), s"ranks not dense for q$q")
      // frozen total order within each query
      val sorted = hs.sortBy(h => (-h._4, h._3))
      assert(hs.sortBy(_._2).map(h => (h._3, h._4)) == sorted.map(h => (h._3, h._4)))
    }
    val heap = rows(Oracle.topkViaHeap(spark, docs))
    assert(heap == oracle, "heap-aggregator path != window oracle")

    val indexed = rows(SparkEntry.queries("q_topk_indexed")(spark, sfDir))
    assert(indexed == oracle, "indexed WAND path != exact oracle")
  }

  test("sf0.001: indexed == heap == oracle (rank-identical)") {
    checkSf("/root/testdata/sf0.001")
  }

  test("sf0.01: indexed == heap == oracle (rank-identical)") {
    checkSf("/root/testdata/sf0.01")
  }

  test("zero-result and unknown-term queries behave") {
    val docs = Stats.readDocuments(spark, "/root/testdata/sf0.001")
    val oracle = rows(Oracle.topk(spark, docs))
    // q17 = 'zzznotfound' must yield no rows
    assert(!oracle.exists(_._1 == 17))
    // q6 = 'spark query plan' must still rank on the two known terms
    assert(oracle.exists(_._1 == 6))
  }

  test("decoded index postings == tf rows (index stores the corpus exactly)") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val decoded = SparkEntry.queries("q_postings_decode")(spark, sfDir)
      .as[(String, Long, Long, Long)].collect().toSeq
    val docs = Stats.readDocuments(spark, sfDir)
    val expected = Stats.tfRows(docs)
      .select($"term", $"doc_id", $"tf", $"dl")
      .orderBy($"term", $"doc_id")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(decoded == expected)
  }

  test("partIdOf (Scala) == Catalyst pmod(xxhash64(term,bucket),P) bit-exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pairs = (for (t <- Seq("the", "dup", "zzz", "Ünïcode-词"); b <- 0 to 5)
      yield (t, b))
    val catalyst = pairs.toDF("term", "bucket")
      .select($"term", $"bucket",
        pmod(xxhash64($"term", $"bucket"), lit(32)).cast("int").as("part_id"))
      .as[(String, Int, Int)].collect()
    catalyst.foreach { case (t, b, pid) =>
      assert(IndexBuild.partIdOf(t, b, 32) == pid, s"($t,$b)")
    }
  }

  test("salting: head terms split into doc-range buckets, rare terms do not") {
    import spark.implicits._
    val docs = Stats.readDocuments(spark, "/root/testdata/sf0.01")
    val (postings, ts, _) = IndexBuild.buildPostings(spark, docs, SparkEntry.testConfig)
    val rowsByTerm = postings.collect().groupBy(_.term)
    val dfMap = ts.select($"term", $"df").as[(String, Long)].collect().toMap
    val cfg = SparkEntry.testConfig
    rowsByTerm.foreach { case (t, rs) =>
      if (dfMap(t) > cfg.headDf) {
        assert(rs.length > 1, s"head term $t not salted")
        // buckets hold disjoint docId ranges
        rs.foreach { r =>
          val ds = Codec.decodeAll(r).map(_.doc_id)
          assert(ds.forall(d => d / cfg.bucketWidth == r.bucket))
        }
      } else {
        assert(rs.length == 1 && rs.head.bucket == 0, s"rare term $t salted")
      }
      // postings within a row strictly increasing
      rs.foreach { r =>
        val ds = Codec.decodeAll(r).map(_.doc_id)
        assert(ds == ds.sorted && ds.distinct == ds)
      }
    }
  }

  test("Scala tokenizer == Catalyst tokenizer on every driver document") {
    import spark.implicits._
    val docs = Stats.readDocuments(spark, "/root/testdata/sf0.01")
    val viaCatalyst = docs
      .select($"doc_id", Tokenize.tokensCol($"text").as("toks"))
      .as[(Long, Seq[String])].collect().toMap
    val viaScala = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().map { case (d, t) => d -> Tokenize.tokenize(t) }.toMap
    assert(viaScala == viaCatalyst)
    // plus adversarial edge cases (punctuation runs, leading/trailing
    // separators, unicode letters, digits, empty)
    val edge = Seq("", "  ", "a", ".a.", "Héllo, Wörld!", "x1 2y --", "ΣΙΓΜΑΣ",
      "tab\tsep", "newline\nsep", "ÆØÅ æøå", "naïve café")
    val viaCol = edge.toDF("text")
      .select(Tokenize.tokensCol($"text")).as[Seq[String]].collect().toSeq
    assert(edge.map(Tokenize.tokenize) == viaCol)
  }

  test("whereTerms: one isin == driver-side term filter, few or thousands of terms") {
    import spark.implicits._
    val docs = Stats.readDocuments(spark, "/root/testdata/sf0.01")
    val (postings, ts, _) = IndexBuild.buildPostings(spark, docs, SparkEntry.testConfig)
    val p = postings.persist()
    try {
      val all = p.collect().toSeq
      def expect(terms: Seq[String]) = {
        val set = terms.toSet
        all.filter(r => set(r.term)).map(r => (r.term, r.bucket)).toSet
      }
      // the whole vocab padded with absent terms (which match nothing),
      // past Catalyst's InSet conversion and Parquet's In-pushdown
      // thresholds; then a few terms
      val vocab = ts.select($"term").as[String].collect().toSeq.sorted ++
        (0 until 1500).map(i => f"zz_absent_$i%04d")
      Seq(vocab, vocab.take(20), Seq.empty).foreach { terms =>
        assert(QueryEngine.whereTerms(p, terms).collect()
          .map(r => (r.term, r.bucket)).toSet == expect(terms))
      }
      assert(expect(vocab.take(20)).nonEmpty)
    } finally { p.unpersist(); () }
  }

  test("in-memory run: head-heavy batch through the batched scorer == oracle") {
    import spark.implicits._
    // every doc contains the head term: its salted buckets re-bucket into
    // docId ranges, so no task holds its full posting set
    val docs = (0L until 512L).map { d =>
      val extra = if (d % 97 == 3) " rare" else ""
      (d, s"the w$d$extra")
    }.toDF("doc_id", "text")
    val cfg = IndexBuild.Config(numPartitions = 4, bucketWidth = 32, headDf = 50)
    val (postings, ts, cs) = IndexBuild.buildPostings(spark, docs, cfg)
    val p = postings.persist()
    try {
      val queries = Seq((1, Seq("the")), (2, Seq("the", "rare")), (3, Seq("rare")))
      val termDf = ts.select($"term", $"df").as[(String, Long)].collect().toMap
      val plan = QueryEngine.plan(cs, termDf, queries)
      assert(termDf("the") == 512L)
      assert(rows(QueryEngine.run(spark, p, plan)) ==
        rows(Oracle.topk(spark, docs, queries = queries)))
    } finally { p.unpersist(); () }
  }

  test("1000-query batch at 128 shuffle partitions: distributed final merge == oracle") {
    import spark.implicits._
    val docs = Stats.readDocuments(spark, "/root/testdata/sf0.001")
    val (postings, ts, cs) = IndexBuild.buildPostings(spark, docs, SparkEntry.testConfig)
    val p = postings.persist()
    val key = "spark.sql.shuffle.partitions"
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.get(key)
    val coalesceBefore = spark.conf.get(coalesce)
    try {
      val batch = Bench.queryBatch(50)
      val termDf = ts.select($"term", $"df").as[(String, Long)].collect().toMap
      val plan = QueryEngine.plan(cs, termDf, batch)
      assert(batch.size == 1000 && plan.k == 10)
      val oracle = rows(Oracle.topk(spark, docs, queries = batch))
      val driverMerged = rows(QueryEngine.run(spark, p, plan))
      // 128 scoring tasks (kept: no coalescing of the bucket shuffle) are
      // past the driver's fan-in, so the blocks merge through an
      // executor level of the treeAggregate first
      spark.conf.set(key, "128")
      spark.conf.set(coalesce, "false")
      assert(TopK.mergeDepth(4) == 1)
      assert(TopK.mergeDepth(128) > 1)
      val distributed = rows(QueryEngine.run(spark, p, plan))
      assert(oracle.nonEmpty)
      assert(distributed == oracle)
      assert(distributed == driverMerged)
    } finally {
      spark.conf.set(key, before); spark.conf.set(coalesce, coalesceBefore)
      p.unpersist(); ()
    }
  }

  test("cached 1000-query batch: one Spark job, no Sort or Exchange; uncached rows in (query_id, rank) order") {
    import org.apache.spark.TestBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
    import org.apache.spark.storage.RDDInfo
    val sc = spark.sparkContext
    val docs = Stats.readDocuments(spark, "/root/testdata/sf0.001")
    val root = java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    val base = java.nio.file.Files.createTempDirectory(root, "jobs").toAbsolutePath.toString
    val (termDir, docDir) = (s"$base/term", s"$base/doc")
    IndexBuild.writeIndex(spark, docs, termDir, SparkEntry.testConfig)
    IndexBuild.deriveDocPartitioned(spark, termDir, docDir)
    val batch = Bench.queryBatch(50)
    val oracle = rows(Oracle.topk(spark, docs, queries = batch))
    val uncached = rows(QueryEngine.runOnIndex(spark, termDir, batch))
    assert(uncached == oracle)
    assert(uncached == uncached.sortBy(r => (r._1, r._2)))
    val h = QueryEngine.openIndex(spark, docDir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Seq[RDDInfo]]
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        stages.add(e.stageInfo.rddInfos); ()
      }
    }
    try {
      // warm-up: fills the serving cache and memoizes the batch's terms
      assert(rows(QueryEngine.runOnHandle(spark, h, batch)) == oracle)
      TestBus.drain(sc)
      sc.addSparkListener(counter)
      val df = QueryEngine.runOnHandle(spark, h, batch)
      val got = rows(df)
      TestBus.drain(sc)
      assert(jobs.get == 1, s"${jobs.get} jobs for one cached batch")
      // its one stage scores the handle's persisted serving parts with no
      // Catalyst plan: no SQL operator scope among the stage's RDDs
      assert(stages.size == 1, s"${stages.size} stages for one cached batch")
      val rdds = stages.peek()
      assert(rdds.exists(_.id == h.served.get.id), rdds.mkString("\n"))
      val sqlScopes = rdds.flatMap(TestBus.scopeName)
        .filter(n => n.contains("InMemoryTableScan") || n.contains("WholeStageCodegen"))
      assert(sqlScopes.isEmpty, sqlScopes.mkString(", "))
      val executed = df.queryExecution.executedPlan.treeString
      assert(!executed.contains("Sort") && !executed.contains("Exchange"), executed)
      assert(got == oracle)
    } finally {
      sc.removeSparkListener(counter)
      h.close()
      org.apache.hadoop.fs.FileSystem.get(sc.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true)
      ()
    }
  }

  test("IndexHandle.close() releases the serving cache") {
    val sc = spark.sparkContext
    val docs = Stats.readDocuments(spark, "/root/testdata/sf0.001")
    val root = java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    val dir = java.nio.file.Files.createTempDirectory(root, "close").toAbsolutePath.toString
    try {
      IndexBuild.writeIndex(spark, docs, dir, SparkEntry.testConfig.copy(docPartitioned = true))
      val h = QueryEngine.openIndex(spark, dir)
      val id = h.served.get.id
      assert(rows(QueryEngine.runOnHandle(spark, h)) == rows(Oracle.topk(spark, docs)))
      assert(sc.getPersistentRDDs.contains(id))
      h.close()
      assert(!sc.getPersistentRDDs.contains(id))
    } finally {
      org.apache.hadoop.fs.FileSystem.get(sc.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
      ()
    }
  }

  /** The messages logger `name` emits at DEBUG while `body` runs; the
    * logger's level and appenders are restored afterwards. */
  private def debugMessages(name: String)(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val ctx = LoggerContext.getContext(false)
    val config = ctx.getConfiguration
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("debug-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = { seen.add(e.getMessage.getFormattedMessage); () }
    }
    capture.start()
    // null when the logger inherits its configuration from a parent
    val own = config.getLoggers.get(name)
    val lc = Option(own).getOrElse {
      val c = new LoggerConfig(name, Level.DEBUG, false)
      config.addLogger(name, c)
      c
    }
    val levelBefore = lc.getLevel
    lc.setLevel(Level.DEBUG)
    lc.addAppender(capture, Level.DEBUG, null)
    ctx.updateLoggers()
    try body
    finally {
      lc.removeAppender(capture.getName)
      if (own == null) config.removeLogger(name) else own.setLevel(levelBefore)
      ctx.updateLoggers()
      capture.stop()
    }
    seen.toArray(Array.empty[String]).toSeq
  }

  test("a warm cached batch gives Spark no closure to clean") {
    val sc = spark.sparkContext
    val docs = Stats.readDocuments(spark, "/root/testdata/sf0.001")
    val root = java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    val dir = java.nio.file.Files.createTempDirectory(root, "clean").toAbsolutePath.toString
    // Spark logs one of these for every lambda it parses and checks
    def cleaned(body: => Unit): Int =
      debugMessages("org.apache.spark.util.ClosureCleaner")(body)
        .count(_.startsWith("Cleaning indylambda closure"))
    try {
      IndexBuild.writeIndex(spark, docs, dir, SparkEntry.testConfig.copy(docPartitioned = true))
      val h = QueryEngine.openIndex(spark, dir)
      val batch = Bench.queryBatch(50)
      // warm-up: fills the serving cache and memoizes the batch's terms
      QueryEngine.runOnHandle(spark, h, batch).collect()
      assert(cleaned(QueryEngine.runOnHandle(spark, h, batch).collect()) == 0)
      // control: the capture sees a lambda's cleaning
      assert(cleaned(sc.parallelize(1 to 3).map(_ + 1).count()) >= 1)
      h.close()
    } finally {
      org.apache.hadoop.fs.FileSystem.get(sc.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
      ()
    }
  }

  /** Mixed ASCII/multibyte corpus: pure-ASCII docs with repeated terms
    * (doc-distinct df must not double-count), multibyte docs for the
    * String-kernel fallback — some whose first multibyte letter follows
    * several ASCII tokens, with ß / İ / supplementary-plane letters — and
    * null text. */
  private def mixedDocs(n: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (0L until n).map { d =>
      val text =
        if (d % 7 == 3) null
        else if (d % 5 == 0) s"héad héad wörd$d straße" // non-ASCII fallback
        else if (d % 11 == 1) s"head common w$d tail Straße İstanbul 𝐀math$d common"
        else s"head head w$d common common tail"
      (d, text)
    }.toDF("doc_id", "text")
  }

  test("fused doc→postings pass == tf-row pass; sampled heads (inv=1) == exact heads") {
    import spark.implicits._
    def norm(rows: Seq[PostingRow]) =
      rows.sortBy(r => (r.term, r.bucket))
        .map(r => (r.part_id, r.term, r.bucket, r.n, r.cf, r.min_doc,
          r.blocks.map(b => (b.max_doc, b.n, b.max_tf, b.min_dl, b.bytes.toSeq))))
    val Seq(_, mixedHeads) = Seq(
      Stats.readDocuments(spark, "/root/testdata/sf0.01") -> SparkEntry.testConfig,
      // small buckets and head df so the mixed corpus salts several heads
      mixedDocs(600) -> IndexBuild.Config(numPartitions = 8, bucketWidth = 32, headDf = 10)
    ).map { case (docs, cfg) =>
      val ts = Stats.termStats(Stats.tfRows(docs))
      val exactHeads = IndexBuild.headTerms(spark, ts, cfg)
      assert(IndexBuild.sampledHeadTerms(spark, docs, cfg) == exactHeads)

      val viaTf = IndexBuild.postingsPipeline(spark, Stats.tfRows(docs), exactHeads, cfg)
      val viaDocs = IndexBuild.shuffleMerge(
        IndexBuild.partialPostingsFromDocs(spark, docs, exactHeads, cfg), cfg)
      assert(norm(viaDocs.collect().toSeq) == norm(viaTf.collect().toSeq))

      // stats derived from segments == tokenize-and-count stats
      val derived = viaDocs.groupBy($"term")
        .agg(org.apache.spark.sql.functions.sum($"n").as("df"),
          org.apache.spark.sql.functions.sum($"cf").as("cf"))
        .as[(String, Long, Long)].collect().toSeq.sorted
      val direct = ts.select($"term", $"df", $"cf")
        .as[(String, Long, Long)].collect().toSeq.sorted
      assert(derived == direct)
      exactHeads
    }
    // the mixed corpus really salts, ASCII and fallback terms alike
    assert(Set("head", "héad", "straße").subsetOf(mixedHeads))
  }

  test("sampled heads (inv>1, mixed ASCII/non-ASCII) == Catalyst sample mirror") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the mixed corpus, and an inv that actually drops docs
    val docs = mixedDocs(120)
    val cfg = IndexBuild.Config(headDf = 10, headSampleInv = 3)
    val inv = cfg.headSampleInv
    val mirror = docs.where(pmod($"doc_id", lit(inv)) === 0)
      .select(explode(array_distinct(Tokenize.tokensCol($"text"))).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("df"))
      .where($"df" * inv > cfg.headDf)
      .select($"term").as[String].collect().toSet
    // the filtered heads-only scan (what writeIndex actually runs)
    assert(IndexBuild.headsSampled(spark, docs, cfg) == mirror)
  }
}
