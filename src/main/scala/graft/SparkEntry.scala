package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator from SURVEY.md §2; entries
  * with a [[oracleSql]] twin are cross-checked row/schema/hash against
  * DuckDB on the same parquet tables. Column names and quantization
  * (integer micros) are kept identical on both sides by construction.
  */
object SparkEntry {

  /** Test-scale index config: small bucket width + head threshold so the
    * driver corpus (N=500, head df≈0.8N) exercises BOTH the salted
    * head-term path and the single-bucket rare-term path. */
  val testConfig: IndexBuild.Config =
    IndexBuild.Config(numPartitions = 32, bucketWidth = 128, headDf = 300)

  private def docs(s: SparkSession, dir: String): DataFrame =
    Stats.readDocuments(s, dir)

  /** Per-invocation scratch dir for queries that persist an index before
    * querying it. A fresh temp dir per call (not a path keyed by the
    * dataset basename — round-3 ADVICE: two concurrent Verify runs, or
    * two datasets sharing a basename, would clobber each other's
    * index/checkpoint state mid-query). Rooted under the working
    * directory's target/ (so each checkout keeps its own), not /tmp:
    * the sandbox reaps /tmp mid-job, and the returned DataFrames read
    * these dirs lazily — so cleanup is a JVM-EXIT hook (after all lazy
    * reads), not eager deletion, plus a first-use sweep of dirs older
    * than a day (a crashed JVM's hook never ran). Age alone is not
    * liveness (round-4 ADVICE: a >24h soak run would have its scratch
    * reaped mid-read), so each dir is pid-stamped at creation and the
    * sweep additionally requires the owning JVM to be gone
    * (ProcessHandle.of(pid).isEmpty) before deleting. Without either,
    * every contract run leaked a full index copy per index-backed
    * query. */
  private[graft] val PidFile = ".owner.pid"
  private[graft] def ownerAlive(dir: java.io.File): Boolean = {
    val pf = new java.io.File(dir, PidFile)
    if (!pf.isFile) return false // pre-stamp layout: fall back to age
    try {
      val pid = new String(
        java.nio.file.Files.readAllBytes(pf.toPath), "UTF-8").trim.toLong
      ProcessHandle.of(pid).isPresent
    } catch { case _: Exception => false } // unreadable stamp = not live
  }
  private[graft] def sweepStale(root: java.io.File, cutoffMs: Long): Unit = {
    val stale = root.listFiles()
    if (stale != null)
      stale.filter(f =>
          f.isDirectory && f.lastModified() < cutoffMs && !ownerAlive(f))
        .foreach(deleteRecursively)
  }
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Paths.get("target", "scratch").toAbsolutePath
    java.nio.file.Files.createDirectories(root)
    sweepStale(root.toFile, System.currentTimeMillis() - 24L * 3600 * 1000)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      created.forEach(d => deleteRecursively(d.toFile))))
    root
  }
  private val created =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(); ()
  }
  private def scratchDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(scratchRoot, prefix)
    java.nio.file.Files.write(
      d.resolve(PidFile),
      ProcessHandle.current().pid().toString.getBytes("UTF-8"))
    created.add(d)
    d.toString
  }

  /** Flagship query on /root/testdata/sf0.001: full indexed BM25 top-10
    * over the reference query batch; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_topk_indexed")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- corpus statistics (the "training" stage; M5/A3) ---------------
    "q_corpus_stats" -> ((s, dir) => {
      val cs = Stats.corpus(docs(s, dir))
      import s.implicits._
      Seq((cs.n_docs, cs.n_tokens,
        math.floor(cs.avgdl * 1e6 + 0.5).toLong))
        .toDF("n_docs", "n_tokens", "avgdl_micro")
    }),
    "q_term_stats" -> ((s, dir) => {
      Stats.termStats(Stats.tfRows(docs(s, dir)))
        .select(col("term"), col("df"), col("cf"))
        .orderBy("term")
    }),
    // term stats derived FROM the built segments (df = Σ n, cf = Σ tf per
    // term) — the single-tokenize-pass build's stats path, proven against
    // the same DuckDB tokenize-and-count oracle as q_term_stats.
    "q_term_stats_indexed" -> ((s, dir) => {
      val (postings, _, _) = IndexBuild.buildPostings(s, docs(s, dir), testConfig)
      postings.groupBy(col("term"))
        .agg(sum(col("n")).as("df"), sum(col("cf")).as("cf"))
        .orderBy("term")
    }),
    "q_doc_len" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"),
          size(Tokenize.tokensCol(col("text"))).cast("long").as("dl"))
        .orderBy("doc_id")
    }),
    // --- exact oracle paths (Q5/Q6: full-scan ground truth) ------------
    "q_topk_oracle" -> ((s, dir) => Oracle.topk(s, docs(s, dir))),
    "q_topk_heap" -> ((s, dir) => Oracle.topkViaHeap(s, docs(s, dir))),
    // --- indexed path (A1/A2 build + Q2-Q4 pruned query) ---------------
    "q_topk_indexed" -> ((s, dir) => {
      val (postings, ts, cs) = IndexBuild.buildPostings(s, docs(s, dir), testConfig)
      import s.implicits._
      // df lookup restricted to the batch's terms BEFORE collect — the
      // full vocabulary never reaches the driver (web-scale invariant)
      val qTerms = QuerySet.queryTerms.flatMap(_._2).distinct
      val termDf = ts.where($"term".isin(qTerms: _*))
        .select($"term", $"df").as[(String, Long)].collect().toMap
      QueryEngine.run(s, postings, QueryEngine.plan(cs, termDf))
    }),
    // --- conjunctive (AND) top-k over the same index and query batch:
    // docs must contain EVERY distinct query term (BM25-scored over them);
    // queries with a corpus-absent term match nothing. Served through the
    // doc-partitioned TAAT scorer's matched-list count — a per-doc
    // intersection, the layout where AND is a local per-bucket test ------
    "q_topk_conj" -> ((s, dir) => {
      val (postings, ts, cs) = IndexBuild.buildPostings(s, docs(s, dir), testConfig)
      import s.implicits._
      val qTerms = QuerySet.queryTerms.flatMap(_._2).distinct
      val termDf = ts.where($"term".isin(qTerms: _*))
        .select($"term", $"df").as[(String, Long)].collect().toMap
      QueryEngine.run(s, postings,
        QueryEngine.plan(cs, termDf, conjunctive = true))
    }),
    // --- exact phrase top-k over the positional sidecar (beyond-reference
    // fulltext capability): build positions (one shuffle of the exploded
    // tokens), persist + reopen (full lifecycle), evaluate the frozen
    // phrase batch per docId bucket (local intersection + adjacency
    // count), score each phrase as one BM25 term (tf = occurrence count,
    // df = matching docs) -------------------------------------------------
    "q_phrase_topk" -> ((s, dir) => {
      val d = docs(s, dir)
      val cs = Stats.corpus(d)
      val posDir = s"${scratchDir("phrase-idx-")}/positions"
      Positional.write(
        Positional.build(s, d, testConfig.bucketWidth), posDir,
        testConfig.bucketWidth, testConfig.numPartitions)
      Positional.phraseTopK(s, Positional.read(s, posDir),
        PhraseSet.phrases, PhraseSet.K, cs.n_docs, cs.avgdl)
    }),
    // --- ordered-proximity top-k over the same positional sidecar: tf
    // counts position pairs within a slop window (slop 0 ≡ the bigram
    // phrase); same one-pass bucket-local evaluation and BM25-as-one-term
    // scoring --------------------------------------------------------------
    "q_proximity_topk" -> ((s, dir) => {
      val d = docs(s, dir)
      val cs = Stats.corpus(d)
      val pos = Positional.build(s, d, testConfig.bucketWidth)
      Positional.proximityTopK(s, pos, PhraseSet.proximityPairs,
        PhraseSet.K, cs.n_docs, cs.avgdl)
    }),
    // --- serving path (S9/S12 lifecycle: persist → derive → open → query):
    // the full disk shape the bench measures — term-partitioned build,
    // serving layout DERIVED from it (rebucket transform, no second
    // tokenize), batched doc-partitioned TAAT — under the same oracle as
    // the in-memory path (rank-identity is layout-independent) ----------
    "q_topk_serving" -> ((s, dir) => {
      val root = scratchDir("serve-idx-")
      val termDir = s"$root/term"
      val serveDir = s"$root/serve"
      IndexBuild.writeIndex(s, docs(s, dir), termDir, testConfig)
      IndexBuild.deriveDocPartitioned(s, termDir, serveDir)
      QueryEngine.runOnIndex(s, serveDir)
    }),
    // --- attribute-filtered retrieval: the same serving lifecycle plus
    // an attr sidecar (virtual posting lists per (attr=value, bucket),
    // Attrs.scala) and a lang IN ('es','de') predicate that narrows each
    // bucket's term lists as they decode. BM25 stats stay corpus-global;
    // the DuckDB mirror applies the same predicate to the same corpus ---
    "q_topk_filtered" -> ((s, dir) => {
      val root = scratchDir("filter-idx-")
      val termDir = s"$root/term"
      val serveDir = s"$root/serve"
      val d = docs(s, dir)
      IndexBuild.writeIndex(s, d, termDir, testConfig)
      IndexBuild.deriveDocPartitioned(s, termDir, serveDir)
      Attrs.writeAttrs(s, d, serveDir, Seq("lang"))
      QueryEngine.runOnIndex(s, serveDir,
        filter = Some(("lang", Seq("es", "de"))))
    }),
    // --- range-filtered retrieval: same lifecycle as q_topk_filtered but
    // the predicate is `n_chars BETWEEN 120 AND 260` — the range compiles
    // to the attr's in-range virtual lists (Attrs.rangeTermMatches), no
    // value enumeration driver-side; BM25 stats stay corpus-global --------
    "q_topk_filtered_range" -> ((s, dir) => {
      val root = scratchDir("rfilter-idx-")
      val termDir = s"$root/term"
      val serveDir = s"$root/serve"
      val d = docs(s, dir)
      IndexBuild.writeIndex(s, d, termDir, testConfig)
      IndexBuild.deriveDocPartitioned(s, termDir, serveDir)
      Attrs.writeAttrs(s, d, serveDir, Seq("n_chars"))
      QueryEngine.runOnIndex(s, serveDir,
        rangeFilter = Some(("n_chars", 120.0, 260.0)))
    }),
    // --- merge lifecycle (J5, the north-star multi-pass merge: full-outer
    // stats join + re-salted posting rebuild): the corpus split into two
    // disjoint docId intervals, each built to disk independently, merged
    // with mergeIndexes, then queried through the MERGED index — under
    // the same DuckDB top-k oracle as the direct paths, because a merge
    // must be invisible to ranking --------------------------------------
    "q_topk_merged" -> ((s, dir) => {
      val root = scratchDir("merge-idx-")
      val d = docs(s, dir)
      val mid = d.agg(max(col("doc_id"))).head().getLong(0) / 2
      IndexBuild.writeIndex(s, d.where(col("doc_id") <= mid), s"$root/lo", testConfig)
      IndexBuild.writeIndex(s, d.where(col("doc_id") > mid), s"$root/hi", testConfig)
      Merge.mergeIndexes(s, Seq(s"$root/lo", s"$root/hi"), s"$root/merged")
      QueryEngine.runOnIndex(s, s"$root/merged")
    }),
    // --- index content audit (decode every posting; A1/S10 inverse) ----
    "q_postings_decode" -> ((s, dir) => {
      val (postings, _, _) = IndexBuild.buildPostings(s, docs(s, dir), testConfig)
      import s.implicits._
      postings.flatMap(Codec.decodeAll _)
        .toDF()
        .select($"term", $"doc_id", $"tf", $"dl")
        .orderBy($"term", $"doc_id")
    }),
    // PForDelta-coded build through the same full lifecycle (map-side
    // partials → shuffle merge → decode): same postings, denser blocks —
    // the north rule's second codec, proven against the same DuckDB
    // tokenize-and-count oracle as q_postings_decode.
    "q_postings_pfor" -> ((s, dir) => {
      val (postings, _, _) = IndexBuild.buildPostings(s, docs(s, dir),
        testConfig.copy(codec = Codec.PForId))
      import s.implicits._
      postings.flatMap(Codec.decodeAll _)
        .toDF()
        .select($"term", $"doc_id", $"tf", $"dl")
        .orderBy($"term", $"doc_id")
    }),
    // --- training-data pipeline: deduplication ---------------------------
    "q_dedup_exact" -> ((s, dir) => extra.Dedup.exact(docs(s, dir))),
    "q_dedup_ngram" -> ((s, dir) => extra.Dedup.ngramJaccard(docs(s, dir))),
    "q_dedup_minhash" -> ((s, dir) => extra.Dedup.minhashLsh(s, docs(s, dir))),
    "q_simhash" -> ((s, dir) => extra.Dedup.simhash(s, docs(s, dir))),
    "q_dedup_embedding" -> ((s, dir) =>
      extra.Dedup.embeddingDup(embeddings(s, dir))),
    // the scale path: LSH-cell-bucketed candidates, exact cosine within
    // (the cross-join sibling above is its small-scale recall oracle)
    "q_dedup_embedding_lsh" -> ((s, dir) =>
      extra.Dedup.embeddingDupLsh(s, embeddings(s, dir))),
    // pairs -> connected components -> canonical survivor per cluster
    // (min id): the last stage of the dedup pipeline
    "q_dedup_clusters" -> ((s, dir) =>
      extra.Dedup.dupClusters(s, extra.Dedup.embeddingDup(embeddings(s, dir)))),
    // --- similarity search over embeddings -------------------------------
    "q_ann_brute" -> ((s, dir) => extra.Ann.bruteTopk(embeddings(s, dir))),
    // full probe ⇒ provably identical to brute force (oracle-checked);
    // pruned-probe recall is spec-tested like the reference's Recall@10.
    "q_ann_ivf" -> ((s, dir) =>
      extra.Ann.lshTopk(s, embeddings(s, dir), nprobe = 1 << extra.Ann.NumPlanes)),
    // the literal reference lifecycle: train ONCE at build time, persist
    // codebook + cell-partitioned vectors, query LOADS the index and
    // trains nothing (full probe here ⇒ == brute force, oracle-checked)
    "q_ann_kmeans_ivf" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val idxDir = scratchDir("ann-idx-")
      extra.AnnIndex.write(s, e, idxDir)
      extra.AnnIndex.topk(s, idxDir,
        e.where(col("vec_id") < extra.Ann.NumQueryVecs), nprobe = extra.Ann.KmKc)
    }),
    // PQ/ADC in its lossless verification config (ks = n, zero Lloyd
    // iterations ⇒ codewords are the subvectors): the full train → encode
    // → DTable → ADC → rerank pipeline must reproduce the exact-L2 scan.
    // The lossy ks=16 config is recall-tested in AnnIndexSpec.
    "q_ann_pq" -> ((s, dir) => extra.Pq.pqTopkLossless(s, embeddings(s, dir))),
    // the COMPOSED flagship: persisted IVF∘PQ (cell-partitioned PQ codes +
    // persisted codebooks; query loads models, reads probed cells only,
    // ADC + exact rerank). Lossless config + full probe ⇒ == exact-L2
    // scan (oracle-checked); the lossy pruned config is recall-spec'd.
    "q_ann_ivfpq" -> ((s, dir) => {
      val idxDir = scratchDir("ivfpq-idx-")
      extra.AnnIndexPq.ivfPqTopkLossless(s, embeddings(s, dir), idxDir)
    }),
    // --- text analysis ----------------------------------------------------
    "q_token_count" -> ((s, dir) => extra.TextMetrics.tokenCounts(docs(s, dir))),
    "q_quality" -> ((s, dir) => extra.TextMetrics.quality(docs(s, dir))),
    "q_lang_id" -> ((s, dir) => extra.TextMetrics.langId(s, docs(s, dir))),
    "q_fingerprint" -> ((s, dir) => extra.TextMetrics.fingerprints(s, docs(s, dir))),
    // --- multimodal pages table (input_hint shape) ------------------------
    "q_pages_extract" -> ((s, dir) => extra.Pages.extractAudit(s, docs(s, dir))),
    // the composed ingest: pages → binary-html text extraction → dense
    // url-ranked doc ids (the corpus the index builds from)
    "q_pages_ingest" -> ((s, dir) => {
      extra.Pages.toDocuments(extra.Pages.fromDocuments(docs(s, dir)))
        .select(col("doc_id"), col("url"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),
    "q_media_meta" -> ((s, dir) => extra.Pages.mediaMeta(docs(s, dir))),
    "q_media_features" -> ((s, dir) => extra.Pages.mediaFeaturesStub(s, docs(s, dir))),
    // Structured-Streaming incremental ingest (reference InsertIvf
    // analog): pages arrive as file-source micro-batches, each builds its
    // own segment index (monotone doc-id offsets), compaction concat-
    // merges them; the compacted index's term stats must equal DuckDB's
    // tokenize-and-count over the same corpus (ids don't enter df/cf).
    "q_stream_ingest" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val workDir = scratchDir("stream-ingest-")
      val pagesDir = s"$workDir/pages"
      extra.Pages.fromDocuments(docs(s, dir)).select(col("url"), col("html"))
        .repartition(3).write.parquet(pagesDir)
      val stream = s.readStream
        .schema(new StructType().add("url", StringType).add("html", BinaryType))
        .option("maxFilesPerTrigger", 1)
        .parquet(pagesDir)
      val q = streaming.StreamIngest.start(stream, workDir, testConfig)
      try q.processAllAvailable() finally q.stop()
      val serving = s"$workDir/serving"
      streaming.StreamIngest.compact(s, workDir, serving)
      IndexBuild.readTermStats(s, serving)
        .select(col("term"), col("df"), col("cf"))
        .orderBy("term")
    })
  )

  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_corpus_stats"    -> OracleSql.corpusStatsSql,
    "q_term_stats"      -> OracleSql.termStatsSql,
    "q_term_stats_indexed" -> OracleSql.termStatsSql,
    "q_stream_ingest"   -> OracleSql.termStatsSql,
    "q_doc_len"         -> OracleSql.docLenSql,
    "q_topk_oracle"     -> OracleSql.topkSql(),
    "q_topk_heap"       -> OracleSql.topkSql(),
    "q_topk_indexed"    -> OracleSql.topkSql(),
    "q_topk_serving"    -> OracleSql.topkSql(),
    "q_topk_filtered"   -> OracleSql.topkFilteredSql("lang", Seq("es", "de")),
    "q_topk_filtered_range" -> OracleSql.topkFilteredRangeSql("n_chars", 120, 260),
    "q_topk_merged"     -> OracleSql.topkSql(),
    "q_topk_conj"       -> OracleSql.topkConjSql(),
    "q_phrase_topk"     -> OracleSql.phraseTopkSql(),
    "q_proximity_topk"  -> OracleSql.proximityTopkSql(),
    "q_postings_decode" -> OracleSql.postingsSql,
    "q_postings_pfor"   -> OracleSql.postingsSql,
    "q_dedup_exact"     -> extra.OracleSqlExtra.dedupExactSql,
    "q_dedup_ngram"     -> extra.OracleSqlExtra.ngramJaccardSql(),
    "q_dedup_embedding" -> extra.OracleSqlExtra.embeddingDupSql(),
    "q_dedup_embedding_lsh" -> extra.OracleSqlExtra.embeddingDupLshSql(),
    "q_dedup_clusters" -> extra.OracleSqlExtra.dupClustersSql(),
    "q_ann_brute"       -> extra.OracleSqlExtra.annBruteSql(),
    "q_ann_ivf"         -> extra.OracleSqlExtra.annBruteSql(),
    "q_ann_kmeans_ivf"  -> extra.OracleSqlExtra.annBruteSql(),
    "q_ann_pq"          -> extra.OracleSqlExtra.annL2Sql(),
    "q_ann_ivfpq"       -> extra.OracleSqlExtra.annL2Sql(),
    "q_token_count"     -> extra.OracleSqlExtra.tokenCountSql,
    "q_quality"         -> extra.OracleSqlExtra.qualitySql,
    "q_pages_extract"   -> extra.OracleSqlExtra.pagesExtractSql,
    "q_pages_ingest"    -> extra.OracleSqlExtra.pagesIngestSql,
    "q_media_meta"      -> extra.OracleSqlExtra.mediaMetaSql,
    // sketch mirrors: PortableHash.md5_60 has an exact SQL twin and
    // DuckDB HUGEINT covers the mod-2^61−1 arithmetic, so even the
    // MinHash/SimHash/fingerprint paths are hash-checked cross-engine
    "q_dedup_minhash"   -> extra.OracleSqlExtra.minhashLshSql,
    "q_simhash"         -> extra.OracleSqlExtra.simhashSql,
    "q_lang_id"         -> extra.OracleSqlExtra.langIdSql,
    "q_fingerprint"     -> extra.OracleSqlExtra.fingerprintSql,
    "q_media_features"  -> extra.OracleSqlExtra.mediaFeaturesSql
  )
}
