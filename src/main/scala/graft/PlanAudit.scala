package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** The engine's diagnostic main (the timed build/query numbers live in
  * `Bench point`/`Bench spawn` and perfbench). Three modes, one session:
  *
  *   sbt -batch "runMain graft.PlanAudit"
  *     writes PLANS.md: the physical plans of the engine's key jobs, as
  *     evidence that the declarative parts stay inside Catalyst's
  *     optimizer (parquet filter pushdown, partition pruning, whole-stage
  *     codegen, map-side partial aggregation).
  *   sbt -batch "runMain graft.PlanAudit plans <outDir> [query ...]"
  *     `.explain("formatted")` of contract queries (default: all) over
  *     sf0.001, one `<outDir>/<query>.txt` each. Building the DataFrame
  *     runs any index-build side effects; the final query is only planned.
  *   sbt -batch "runMain graft.PlanAudit walls <sfDir> [query ...]"
  *     the warm wall of each contract query (default: all): one untimed
  *     run, then a timed one (build side effects + one count()). One line
  *     per query, then the total.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = "/root/testdata/sf0.001"
    def known(names: List[String]): Seq[String] = {
      val unknown = names.filterNot(SparkEntry.queries.contains)
      if (unknown.nonEmpty) usage(s"unknown contract queries: ${unknown.mkString(" ")}")
      if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names
    }
    args.toList match {
      case Nil => withSession(audit(_, sfDir))
      case "plans" :: outDir :: names =>
        val qs = known(names)
        withSession(plans(_, sfDir, outDir, qs))
      case "walls" :: wallSf :: names =>
        val qs = known(names)
        withSession(walls(_, wallSf, qs))
      case _ => usage("")
    }
  }

  private def usage(why: String): Nothing = {
    if (why.nonEmpty) System.err.println(why)
    System.err.println(
      "usage: PlanAudit | PlanAudit plans <outDir> [query ...] | PlanAudit walls <sfDir> [query ...]")
    sys.exit(2)
  }

  /** `Verify`'s session at its default 4 cpus: local[4], 4 shuffle
    * partitions, UTC, shuffle files on repo disk. */
  private def withSession(body: SparkSession => Unit): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Bench.localDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try body(spark) finally spark.stop()
  }

  /** Formatted plan text, with U+0000 (the attr filter-term marker,
    * [[Attrs.FilterMarker]]) rendered as the two characters `\0` so the
    * written files stay text, and a lambda argument's per-JVM class
    * number and identity hash (`/0x00007f2c3938d9a0@15045e40`) cut. */
  private def explain(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .replace("\u0000", "\\0")
      .replaceAll("""\$\$Lambda[$0-9]*/0x[0-9a-f]+@[0-9a-f]+""", "\\$\\$Lambda")

  private def plans(spark: SparkSession, sfDir: String, outDir: String,
                    names: Seq[String]): Unit = {
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    names.foreach { n =>
      val t0 = System.nanoTime()
      Files.writeString(out.resolve(s"$n.txt"), explain(SparkEntry.queries(n)(spark, sfDir)))
      println(f"$n ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
  }

  private def walls(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val secs = names.map { n =>
      SparkEntry.queries(n)(spark, sfDir).count() // warm-up
      val t0 = System.nanoTime()
      val c = SparkEntry.queries(n)(spark, sfDir).count()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$n%-28s $s%7.2fs rows=$c")
      s
    }
    println(f"TOTAL ${secs.sum}%.1fs")
  }

  private def audit(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    val docs = Stats.readDocuments(spark, sfDir)
    val dir = "target/plan-audit-index"
    def clear(d: String): Unit =
      org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(d), true)
    clear(dir)
    val meta = IndexBuild.writeIndex(spark, docs, dir, SparkEntry.testConfig)
    val cs = CorpusStats(meta.n_docs, meta.n_tokens, meta.max_doc_id)

    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan audit (generated by `graft.PlanAudit`)\n\n"
    sb ++= "Checked properties: (1) segment scans push term filters into the\n"
    sb ++= "parquet reader (`PushedFilters: [In(term, ...)]`) and prune\n"
    sb ++= "partition directories (`PartitionFilters` on part_id); (2) the\n"
    sb ++= "stats job partially aggregates map-side before its (tiny) shuffle;\n"
    sb ++= "(3) column pruning: scans read only the needed columns\n"
    sb ++= "(`ReadSchema`); (4) arithmetic stays in WholeStageCodegen spans;\n"
    sb ++= "(5) an uncached query batch restricts postings to its terms with one\n"
    sb ++= "`InSet` filter (pushed into the parquet reader), no `BroadcastExchange`;\n"
    sb ++= "(6) a batch over the cached serving layout runs no SQL operator: its\n"
    sb ++= "one stage scores the persisted parts (RDD lineage below), and its hits\n"
    sb ++= "come back as one `HitsScan` leaf over the merged block, no row list.\n\n"

    def dump(title: String, df: DataFrame): Unit = {
      sb ++= s"## $title\n\n```\n"
      sb ++= explain(df)
      sb ++= "\n```\n\n"
    }

    // 1. pruned segment scan for a rare-term query (the nprobe analog);
    //    max_bucket = 0: 'dup' was not salted by the build
    val pairs = QueryEngine.candidatePairs(Map("dup" -> 0), Seq((3, Seq("dup"))))
    val partIds = QueryEngine.candidatePartIds(meta, pairs)
    dump("Pruned segment scan (rare term 'dup' → 1 of 32 partitions)",
      IndexBuild.readSegments(spark, dir)
        .where($"part_id".isin(partIds: _*) && $"term".isin("dup")).toDF())

    // 1b. a 1000-query batch's posting restriction (QueryEngine.whereTerms):
    //     one InSet filter, pushed into the segments' parquet scan. Over
    //     the handle's cached serving layout the batch runs no Catalyst
    //     plan: its one stage is the scorer over the persisted parts, whose
    //     lineage is dumped after a first batch has filled the cache; that
    //     batch's hits are one HitsScan leaf
    val batch = Bench.queryBatch(50)
    val batchTerms = batch.flatMap(_._2).distinct.sorted
    dump(s"1000-query batch term filter over term-partitioned segments (${batchTerms.size} terms, one InSet)",
      QueryEngine.whereTerms(IndexBuild.readSegments(spark, dir), batchTerms).toDF())
    val serveDir = "target/plan-audit-serve"
    clear(serveDir)
    IndexBuild.deriveDocPartitioned(spark, dir, serveDir)
    val handle = QueryEngine.openIndex(spark, serveDir)
    val hits = QueryEngine.runOnHandle(spark, handle, batch)
    sb ++= s"## 1000-query batch over the cached serving layout (RDD lineage of its one stage)\n\n```\n"
    // call sites without line numbers, so edits elsewhere leave it be
    sb ++= QueryEngine.scoredBlocks(handle.served.get, QueryEngine.plan(cs, Map.empty, Nil))
      .toDebugString.replaceAll("""(\.scala):\d+""", "$1")
    sb ++= "\n```\n\n"
    sb ++= s"## The cached batch's result (executed plan: one leaf over the merged block)\n\n```\n"
    sb ++= hits.queryExecution.executedPlan.treeString
    sb ++= "```\n\n"
    handle.close()

    // 2. segment-derived stats job (column-pruned scan, map-side partials):
    //    the build's actual stats path — no tokenize pass, reads only
    //    (term, n, cf) from the segments parquet
    dump("Segment-derived term stats (column-pruned scan + partial agg)",
      spark.read.parquet(IndexBuild.segmentsDir(dir))
        .groupBy($"term")
        .agg(org.apache.spark.sql.functions.sum($"n").as("df"),
          org.apache.spark.sql.functions.sum($"cf").as("cf")))

    // 3. exact oracle top-k (broadcast join + window)
    dump("Exact oracle BM25 top-k (broadcast qterms join + window)",
      Oracle.topk(spark, docs))

    // 4. quality metrics (pure codegen column algebra)
    dump("Quality scoring (single codegen'd projection)",
      extra.TextMetrics.quality(docs))

    // 5. persisted ANN index: probed read must show cell partition pruning
    val annDir = "target/plan-audit-ann"
    clear(annDir)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    extra.AnnIndex.write(spark, emb, annDir)
    dump("ANN index probed-cell read (partition pruning on cell)",
      extra.AnnIndex.readCells(spark, annDir).where($"cell".isin(0, 1, 2)))

    // 6. composed IVF∘PQ index: probed codes read (partition pruning) and
    //    the exact rerank's pairs (the candidate pool, each candidate
    //    beside its query vector, broadcast once — corpus never shuffled);
    //    their top-k is TopK.topk's per-task heaps merged in one runJob,
    //    outside any SQL plan
    val pqDir = "target/plan-audit-ivfpq"
    clear(pqDir)
    extra.AnnIndexPq.write(spark, emb, pqDir)
    dump("IVF∘PQ probed codes read (partition pruning on cell)",
      extra.AnnIndexPq.readCodes(spark, pqDir).where($"cell".isin(0, 1, 2)))
    val qv = emb.where($"vec_id" < 2).select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toMap
    val pool = Seq((0L, 5L), (1L, 7L)).map { case (q, v) => (q, v, qv(q)) }
      .toDF("query_vec_id", "vec_id", "qe")
    dump("IVF∘PQ exact rerank pairs (broadcast candidate pool, hash-probe corpus scan, no Window)",
      extra.Pq.rerankPairs(pool, emb))

    // 7. positional sidecar: the phrase path's filtered read must show the
    //    term predicate pushed to the parquet scan (row-group skipping on
    //    the term-sorted files), reading only the phrase terms' positions
    val posDir = "target/plan-audit-pos"
    clear(posDir)
    Positional.write(Positional.build(spark, docs, SparkEntry.testConfig.bucketWidth),
      posDir, SparkEntry.testConfig.bucketWidth, SparkEntry.testConfig.numPartitions)
    dump("Positional sidecar read for a phrase query (term pushdown)",
      Positional.read(spark, posDir)
        .where($"term".isin("table", "hash")).toDF())

    // 8. attr-filter sidecar: a batch's restriction (QueryEngine.restrictToPlan)
    //    over every filter list reads only the requested lists (filter-term
    //    pushdown into the sidecar scan — row-group skipping on the
    //    term-sorted files), never the corpus or the match set on the
    //    driver. A range-filtered batch over the segments ∪ sidecar source
    //    scans each side once: `In ∨ StringStartsWith` pushed into both
    //    scans, the value cast applied after them
    Attrs.writeAttrs(spark, docs, dir, Seq("lang", "n_chars"))
    dump("Attr filter-list restriction for lang IN ('es','de') (term pushdown on the sidecar)",
      QueryEngine.restrictToPlan(Attrs.allFilterRows(spark, dir),
        QueryEngine.plan(cs, Map.empty, Nil)
          .copy(filterTerms = Seq("es", "de").map(Attrs.filterTerm("lang", _)))).toDF())
    dump("Segments ∪ sidecar restriction for 'dup table' with n_chars BETWEEN 120 AND 260 (one scan per side)",
      QueryEngine.restrictToPlan(
        IndexBuild.readSegments(spark, dir).union(Attrs.allFilterRows(spark, dir)),
        QueryEngine.plan(cs, Map("dup" -> 1L, "table" -> 1L), Seq((1, Seq("dup", "table"))))
          .copy(filterRange = Some(("n_chars", 120.0, 260.0)))).toDF())

    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md")
  }
}
