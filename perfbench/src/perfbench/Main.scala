package perfbench

import graft.{Attrs, IndexBuild, Oracle, QueryEngine, Tokenize}
import graft.extra.Pages
import graft.streaming.StreamIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The engine benchmark: one workload per process, driven only through
  * the engine's public entry points. See perfbench/README.md for the
  * workloads, the metrics and how to read them.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --root DIR
  *
  * DIR/scratch (wiped by the caller before each run) holds the inputs,
  * every index and Spark's local dirs; DIR/results receives
  * `<workload>-<seed>-<trace>.json` and, when traced, the span file. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, root: String)

  val Workloads = Seq("bulk-build", "serve-batch", "serve-single", "ingest-query")
  /** Set-up runs this many times; setup_s is the median. */
  val SetupReps = 3
  /** The timed loop runs for --seconds and at least this many operations;
    * a traced run needs two bare and two traced ones (see [[run]]). */
  def minOps(traced: Boolean): Int = if (traced) 4 else 2
  val K = 10
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  /** Index geometry for every build: the engine defaults, with a
    * partition count sized to the corpus rather than to a cluster. */
  val Cfg: IndexBuild.Config = IndexBuild.Config(numPartitions = 8)

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val spark = session(o)
    val tr = new Trace(o.trace)
    if (o.trace) spark.sparkContext.addSparkListener(tr.listener)
    val code =
      try run(o, spark, tr)
      finally spark.stop()
    System.exit(code)
  }

  private def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    val t = need("trace")
    require(t == "0" || t == "1", "--trace takes 0 or 1")
    Opts(w, need("seed").toLong, need("seconds").toInt, t == "1", need("root"))
  }

  /** The fixed session configuration of every run. */
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", Cfg.numPartitions.toString)
      .config("spark.default.parallelism", Cfg.numPartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.root}/scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.root}/scratch/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ---- measurement records --------------------------------------------

  /** Everything a run measures, shared by the workloads. */
  final class Rec {
    val timings = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val values = mutable.LinkedHashMap.empty[String, (Double, String)]
    val failures = mutable.ArrayBuffer.empty[String]
    val failedOps = mutable.Set.empty[Int]
    /** Failures not tied to one timed operation (input checks, gate). */
    var otherFailures = 0
    /** Off during warm-up operations. */
    var recording = true
    def time(name: String, v: Double): Unit =
      if (recording) timings.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
    def set(name: String, v: Double, unit: String): Unit = values(name) = (v, unit)
    def fail(op: Int, msg: String): Unit = {
      failures += msg
      if (op >= 0) failedOps += op else otherFailures += 1
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of p90/p99/p99.9 with at least ten samples beyond it
    * (nearest rank), or None when there are too few samples. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(("p99.9", 0.999), ("p99", 0.99), ("p90", 0.9))
      .find { case (_, p) => xs.size * (1 - p) >= 10 - 1e-9 }
      .map { case (n, p) =>
        val s = xs.sorted
        n -> s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1))
      }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Progress on stderr, stamped with the JVM's uptime. */
  def progress(msg: String): Unit =
    System.err.println(f"perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.1fs $msg")

  // ---- shared context ---------------------------------------------------

  final case class Q(id: Int, terms: Seq[String], kind: String)
  type Hits = Seq[(Int, Long, Long)] // (rank, doc_id, score_micro) by rank
  /** One sampled query of timed operation `op`, with what the engine gave. */
  final case class Check(op: Int, filter: Option[(String, Seq[String])], q: Q, got: Hits)

  final class Ctx(val o: Opts, val spark: SparkSession, val tr: Trace, val rec: Rec) {
    val scratch = s"${o.root}/scratch"
    def path(name: String) = s"$scratch/$name"
    val slices: Int = Cfg.numPartitions

    /** Write the seeded corpus [0, n) as the parquet input table and
      * return the table as the timed calls read it. */
    def writeCorpus(n: Long): DataFrame = tr.call("Gen.corpus") {
      Gen.docs(spark, o.seed, 0, n, slices).write.mode("overwrite").parquet(path("corpus"))
      spark.read.parquet(path("corpus"))
    }

    /** Write the seeded query log as a parquet table and read it back;
      * query terms come from the engine's tokenizer, as for any caller. */
    def writeQueryLog(n: Int): IndexedSeq[Q] = tr.call("Gen.queries") {
      import spark.implicits._
      Gen.queries(o.seed, n).toDS().coalesce(1).write.mode("overwrite").parquet(path("queries"))
      spark.read.parquet(path("queries")).as[Gen.QueryRow].collect().sortBy(_.query_id)
        .map(r => Q(r.query_id, Tokenize.tokenize(r.qtext).distinct, r.kind)).toIndexedSeq
    }

    /** Order-independent content digest of a docs table. */
    def digest(docs: DataFrame): String = {
      val r = docs.select(count(lit(1)),
        sum(xxhash64(col("doc_id"), col("text"), col("lang"), col("source"))
          .cast("decimal(38,0)"))).head()
      s"${r.getLong(0)}:${r.get(1)}"
    }

    def dirBytes(dir: String): Long = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }

    def delete(dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }

    /** Copy directory `src` to `dst`, which must not exist yet. */
    def copy(src: String, dst: String): Unit = {
      val conf = spark.sparkContext.hadoopConfiguration
      val s = new org.apache.hadoop.fs.Path(src)
      val fs = s.getFileSystem(conf)
      org.apache.hadoop.fs.FileUtil.copy(fs, s, fs, new org.apache.hadoop.fs.Path(dst), false, conf)
    }

    /** Pruning counters of a traced batch, as attributes of its span. */
    def noteEffort(e: Option[QueryEngine.EffortAccs]): Unit = e.foreach { a =>
      tr.note("wand_calls", a.wandCalls.value.toDouble)
      tr.note("blocks_total", a.blocksTotal.value.toDouble)
      tr.note("blocks_decoded", a.blocksDecoded.value.toDouble)
      tr.note("docs_scored", a.docsScored.value.toDouble)
      tr.note("buckets_skipped", a.bucketsSkipped.value.toDouble)
      tr.note("decode_ms", a.decodeNanos.value / 1e6)
      tr.note("contrib_ms", a.contribNanos.value / 1e6)
      tr.note("score_ms", a.scoreNanos.value / 1e6)
      tr.note("merge_ms", a.mergeNanos.value / 1e6)
    }

    /** `body` as a span when traced, bare otherwise. */
    def maybe[T](traced: Boolean, name: String, role: String = "")(body: => T): T =
      if (traced) tr.call(name, role)(body) else body

    /** One engine query batch, collected; when traced, a span carrying
      * the batch's pruning counters. */
    def batch(traced: Boolean, name: String, role: String = "")(
        run: Option[QueryEngine.EffortAccs] => DataFrame): Array[org.apache.spark.sql.Row] =
      maybe(traced, name, role) {
        val eff = if (traced) Some(new QueryEngine.EffortAccs(spark)) else None
        val rows = run(eff).collect()
        noteEffort(eff)
        rows
      }

    def hits(rows: Array[org.apache.spark.sql.Row]): Map[Int, Hits] =
      rows.toSeq.map(r => (r.getInt(0), (r.getInt(1), r.getLong(2), r.getLong(3))))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).sortBy(_._1) }

    /** Compare engine results with the exact [[Oracle]] over `docs`:
      * rank-identical on (doc_id, score_micro). */
    def gateQueries(docs: DataFrame, checks: Seq[Check]): Unit =
      tr.call("Oracle.gate", "gate") {
        checks.groupBy(_.filter).foreach { case (filter, cs) =>
          val qs = cs.map(x => x.q.id -> x.q.terms).distinct
          val oracle = hits((filter match {
            case None => Oracle.topk(spark, docs, K, qs)
            case Some((a, vs)) => Oracle.topkFiltered(spark, docs, a, vs, K, qs)
          }).collect())
          cs.foreach { x =>
            val want = oracle.getOrElse(x.q.id, Nil)
            if (x.got != want)
              rec.fail(x.op, s"op ${x.op} query ${x.q.id} (${x.q.kind}: ${x.q.terms.mkString(" ")}" +
                s"${filter.fold("")(f => s", ${f._1} IN ${f._2.mkString(",")}")}) " +
                s"differs from Oracle: got ${x.got.take(3)} want ${want.take(3)}")
          }
        }
      }

    /** The built meta must carry the corpus totals. */
    def gateMeta(op: Int, what: String, m: IndexBuild.Meta, nDocs: Long, nTokens: Long): Unit =
      if (m.n_docs != nDocs || m.n_tokens != nTokens)
        rec.fail(op, s"$what meta n_docs/n_tokens ${m.n_docs}/${m.n_tokens} != corpus $nDocs/$nTokens")

    def corpusTotals(docs: DataFrame): (Long, Long) = {
      val r = docs.select(count(lit(1)), sum(size(Tokenize.tokensCol(col("text")))).cast("long")).head()
      (r.getLong(0), r.getLong(1))
    }

    /** Storage memory the cached serving layout holds. */
    def cacheMb(): Double =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
  }

  /** One workload: set-up (repeatable), the timed operation, the
    * correctness gate and the one-term out-of-vocabulary probe. */
  abstract class Workload(val c: Ctx) {
    /** Input sizes of the workload. */
    def nDocs: Long
    def nQueries: Int
    var queries: IndexedSeq[Q] = IndexedSeq.empty
    /** Write the inputs, once per run. */
    def inputs(): Unit = {
      c.writeCorpus(nDocs)
      queries = c.writeQueryLog(nQueries)
    }
    /** The engine's set-up before the timed loop; repeatable. */
    def setup(): Unit
    /** One timed operation; returns the work units it completed. */
    def op(i: Int, traced: Boolean): Long
    def exhausted(i: Int): Boolean = false
    /** Untimed preparation before operation `i`'s clock starts. */
    def prepare(i: Int): Unit = ()
    /** Untimed operations between set-up and the timed loop. */
    def warmups: Int = 0
    def gate(ops: Int): Unit
    def probe(q: Seq[(Int, Seq[String])]): Unit
    /** Workload-specific end-to-end figures, from the recorded timings. */
    def report(units: Long, opSeconds: Double): Unit
    def docsTable: DataFrame = c.spark.read.parquet(c.path("corpus"))
  }

  // ---- bulk-build --------------------------------------------------------

  final class BulkBuild(c: Ctx) extends Workload(c) {
    val nDocs = 30000L
    val nQueries = 400
    val termDir = c.path("index-term")
    val docDir = c.path("index-doc")
    var lastMeta: IndexBuild.Meta = _

    /** A warm-up build, so the timed builds run compiled code. */
    def setup(): Unit =
      c.tr.call("IndexBuild.writeIndex")(IndexBuild.writeIndex(c.spark, docsTable, termDir, Cfg))

    def op(i: Int, traced: Boolean): Long = {
      lastMeta = c.maybe(traced, "IndexBuild.writeIndex", "op")(
        IndexBuild.writeIndex(c.spark, docsTable, termDir, Cfg))
      nDocs
    }

    /** After the timed builds: derive the serving layout from the last
      * one (timed on its own), then check both layouts. */
    def gate(ops: Int): Unit = {
      val t0 = System.nanoTime()
      val derived = c.tr.call("IndexBuild.deriveDocPartitioned", "gate")(
        IndexBuild.deriveDocPartitioned(c.spark, termDir, docDir))
      c.rec.time("derive_s", secondsSince(t0))
      val docs = docsTable
      val (n, tokens) = c.corpusTotals(docs)
      c.gateMeta(ops - 1, "term-partitioned", lastMeta, n, tokens)
      c.gateMeta(ops - 1, "doc-partitioned", derived, n, tokens)
      c.rec.set("index_bytes_per_input_byte", c.dirBytes(termDir).toDouble /
        docs.select(sum(octet_length(col("text")))).head().getLong(0), "ratio")
      // every query route over the last build: pruned WAND (rare terms
      // only), rebucket (mixed), and the cached doc-partitioned handle
      val sample = queries.take(60)
      val rare = sample.filter(_.kind == "rare").take(12)
      val checks = mutable.ArrayBuffer.empty[Check]
      def check(qs: Seq[Q], name: String, role: String = "")(
          run: (Seq[(Int, Seq[String])], Option[QueryEngine.EffortAccs]) => DataFrame): Unit = {
        val got = c.hits(c.batch(c.tr.enabled, name, role)(run(qs.map(q => q.id -> q.terms), _)))
        qs.foreach(q => checks += Check(ops - 1, None, q, got.getOrElse(q.id, Nil)))
      }
      c.tr.call("gate", "gate") {
        check(rare, "QueryEngine.runOnIndex")(QueryEngine.runOnIndex(c.spark, termDir, _, K, _))
        check(sample, "QueryEngine.runOnIndex")(QueryEngine.runOnIndex(c.spark, termDir, _, K, _))
        val h = c.tr.call("QueryEngine.openIndex")(QueryEngine.openIndex(c.spark, docDir))
        check(sample, "QueryEngine.runOnHandle", "first")(QueryEngine.runOnHandle(c.spark, h, _, K, _))
        h.close()
      }
      c.gateQueries(docs, checks.toSeq)
    }

    def probe(q: Seq[(Int, Seq[String])]): Unit =
      QueryEngine.runOnIndex(c.spark, termDir, q, K).collect()

    def report(units: Long, opSeconds: Double): Unit = {
      c.rec.set("build_docs_per_s", units / opSeconds, "1/s")
      c.rec.set("corpus_docs", nDocs.toDouble, "count")
      c.rec.set("index_bytes", c.dirBytes(termDir).toDouble, "bytes")
    }
  }

  // ---- serve-batch / serve-single ----------------------------------------

  /** A doc-partitioned index with a `lang` sidecar, opened with the
    * serving cache; `batch` queries per call, and every third call
    * filtered on `lang IN (...)`. The set-up builds the term-partitioned
    * index and derives the serving layout from it. */
  final class Serve(c: Ctx, batch: Int) extends Workload(c) {
    val nDocs = 8000L
    val nQueries = 4000
    val termDir = c.path("index-term")
    val docDir = c.path("index-doc")
    var termMeta: IndexBuild.Meta = _
    var handle: Option[QueryEngine.IndexHandle] = None
    val Filter = "lang" -> Seq("de", "fr")
    val checks = mutable.ArrayBuffer.empty[Check]
    /** Sampled queries checked against the Oracle, per filter state. */
    val ChecksEach = 24
    var next = 0
    override def warmups: Int = 6

    def setup(): Unit = {
      handle.foreach(_.close())
      val docs = docsTable
      termMeta = c.tr.call("IndexBuild.writeIndex")(IndexBuild.writeIndex(c.spark, docs, termDir, Cfg))
      c.tr.call("IndexBuild.deriveDocPartitioned")(IndexBuild.deriveDocPartitioned(c.spark, termDir, docDir))
      c.tr.call("Attrs.writeAttrs")(Attrs.writeAttrs(c.spark, docs, docDir, Seq("lang")))
      val h = c.tr.call("QueryEngine.openIndex")(QueryEngine.openIndex(c.spark, docDir))
      handle = Some(h)
      c.tr.call("QueryEngine.runOnHandle", "first")(
        QueryEngine.runOnHandle(c.spark, h, nextBatch().map(q => q.id -> q.terms), K).collect())
      next = 0
    }

    private def nextBatch(): Seq[Q] = {
      val qs = (0 until batch).map(j => queries((next + j) % queries.size))
      next = (next + batch) % queries.size
      qs
    }

    def op(i: Int, traced: Boolean): Long = {
      val qs = nextBatch()
      val filter = if (i % 3 == 2) Some(Filter) else None
      val t0 = System.nanoTime()
      val rows = c.batch(traced, "QueryEngine.runOnHandle", "op")(
        QueryEngine.runOnHandle(c.spark, handle.get, qs.map(q => q.id -> q.terms), K, _, filter = filter))
      c.rec.time(if (filter.isDefined) "filtered_query_ms" else "unfiltered_query_ms",
        (System.nanoTime() - t0) / 1e6)
      // a fixed sample of the timed calls, filtered and not: query ids
      // divisible by 7 from batches, every single query
      val room = ChecksEach - checks.count(_.filter == filter)
      if (room > 0 && c.rec.recording) {
        val got = c.hits(rows)
        qs.filter(q => q.id % 7 == 0 || batch == 1).take(room)
          .foreach(q => checks += Check(i, filter, q, got.getOrElse(q.id, Nil)))
      }
      qs.size.toLong
    }

    def gate(ops: Int): Unit = {
      val docs = docsTable
      val (n, tokens) = c.corpusTotals(docs)
      c.gateMeta(-1, "term-partitioned", termMeta, n, tokens)
      c.gateMeta(-1, "serving", handle.get.meta, n, tokens)
      c.gateQueries(docs, checks.toSeq)
    }

    def probe(q: Seq[(Int, Seq[String])]): Unit =
      QueryEngine.runOnHandle(c.spark, handle.get, q, K).collect()

    def report(units: Long, opSeconds: Double): Unit = {
      c.rec.set("queries_per_s", units / opSeconds, "1/s")
      c.rec.set("cache_mb", c.cacheMb(), "MB")
      c.rec.set("corpus_docs", nDocs.toDouble, "count")
      c.rec.set("index_bytes", c.dirBytes(docDir).toDouble, "bytes")
      c.rec.set("queries_per_call", batch.toDouble, "count")
    }
  }

  // ---- ingest-query ---------------------------------------------------------

  /** Writes beside reads. The set-up ingests one micro-batch of pages into
    * a base log. Every cycle starts from a fresh copy of that base log,
    * made before its clock starts, so every cycle ingests into the same
    * state: it ingests one more micro-batch, tiers up (one merge of the
    * two batches), compacts a fresh snapshot (a copy of the one merged
    * unit), then queries that snapshot uncached with a rare-term batch (the
    * partition-pruned WAND route) and a head-heavy batch (the rebucket
    * route). Cycle i ingests corpus micro-batch 1 + i: cycles differ in
    * content, not in size or log state. */
  final class IngestQuery(c: Ctx) extends Workload(c) {
    val BatchDocs = 2000L
    val MaxCycles = 8
    val nDocs: Long = (1 + MaxCycles) * BatchDocs
    val nQueries = 2000
    val QueriesPerBatch = 8
    val baseDir = c.path("ingest-base")
    def workDir(cycle: Int) = c.path(s"ingest-$cycle")
    def snapDir(cycle: Int) = c.path(s"snapshot-$cycle")
    lazy val rare: IndexedSeq[Q] = queries.filter(_.kind == "rare")
    lazy val heavy: IndexedSeq[Q] = queries.filter(q => q.kind == "head" || q.kind == "zipf")
    val metas = mutable.ArrayBuffer.empty[IndexBuild.Meta]
    val results = mutable.ArrayBuffer.empty[Seq[Check]]
    var lastSnap = ""

    /** Corpus micro-batch `b` as pages. */
    private def pages(b: Int): DataFrame =
      Pages.fromDocuments(docsTable.where(col("doc_id") >= b * BatchDocs && col("doc_id") < (b + 1) * BatchDocs))

    def setup(): Unit = {
      c.delete(baseDir)
      c.tr.call("StreamIngest.ingestBatch")(StreamIngest.ingestBatch(c.spark, pages(0), baseDir, Cfg, 0))
    }

    override def exhausted(i: Int): Boolean = i >= MaxCycles

    override def prepare(i: Int): Unit = {
      if (i > 0) { c.delete(workDir(i - 1)); c.delete(snapDir(i - 1)) }
      c.copy(baseDir, workDir(i))
    }

    def op(i: Int, traced: Boolean): Long = {
      val log = workDir(i)
      def call[T](name: String)(body: => T): T = c.maybe(traced, name, "op")(body)
      val t0 = System.nanoTime()
      call("StreamIngest.ingestBatch")(StreamIngest.ingestBatch(c.spark, pages(1 + i), log, Cfg, 1))
      call("StreamIngest.tierUp") {
        val merges = StreamIngest.tierUp(c.spark, log, 2)
        if (traced) c.tr.note("merges", merges.size.toDouble)
      }
      // a log of one unit compacts by a file copy, which no Spark stage
      // reports: the traced run records the copied bytes itself
      val units = if (traced) StreamIngest.currentUnits(c.spark, log).size else 0
      val meta = call("StreamIngest.compact") {
        val m = StreamIngest.compact(c.spark, log, snapDir(i))
        if (traced) {
          c.tr.note("merges", if (units > 1) 1.0 else 0.0)
          if (units == 1) c.tr.note("copied_bytes", c.dirBytes(snapDir(i)).toDouble)
        }
        m
      }
      c.rec.time("freshness_s", secondsSince(t0))
      metas += meta
      results += Seq(rare, heavy).flatMap { pool =>
        val qs = (0 until QueriesPerBatch).map(j => pool((i * QueriesPerBatch + j) % pool.size))
        val tq = System.nanoTime()
        val rows = c.batch(traced, "QueryEngine.runOnIndex", "op")(
          QueryEngine.runOnIndex(c.spark, snapDir(i), qs.map(q => q.id -> q.terms), K, _))
        c.rec.time("query_ms", (System.nanoTime() - tq) / 1e6)
        val h = c.hits(rows)
        qs.map(q => Check(i, None, q, h.getOrElse(q.id, Nil)))
      }
      lastSnap = snapDir(i)
      c.rec.time("cycle_s", secondsSince(t0))
      BatchDocs
    }

    /** Corpus micro-batches 0 and 1 + i as cycle i's log numbers them:
      * each micro-batch is renumbered from its log offset in URL order. */
    private def ingestedDocs(i: Int): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("slot")).orderBy(col("url"))
      docsTable.where(col("doc_id") < BatchDocs ||
          (col("doc_id") >= (1 + i) * BatchDocs && col("doc_id") < (2 + i) * BatchDocs))
        .withColumn("slot", when(col("doc_id") < BatchDocs, 0L).otherwise(1L))
        .withColumn("url", concat(lit("https://example.org/"), col("source"), lit("/"), col("doc_id")))
        .select((col("slot") * BatchDocs + row_number().over(w) - 1).as("doc_id"), col("text"))
    }

    def gate(ops: Int): Unit = {
      val perBatch = docsTable
        .groupBy((col("doc_id") / BatchDocs).cast("long").as("b"))
        .agg(count(lit(1)), sum(size(Tokenize.tokensCol(col("text")))).cast("long"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      metas.zipWithIndex.foreach { case (m, i) =>
        val bs = Seq(0L, 1L + i)
        c.gateMeta(i, s"snapshot $i", m, bs.map(perBatch(_)._1).sum, bs.map(perBatch(_)._2).sum)
      }
      // the last two cycles' batches against the Oracle on the docs each
      // cycle's snapshot holds
      results.indices.takeRight(2).foreach(i => c.gateQueries(ingestedDocs(i), results(i)))
      // the cycles' query calls open their snapshot internally; a traced
      // run opens the last one on its own to time the open
      if (c.tr.enabled) c.tr.call("gate", "gate") {
        val h = c.tr.call("QueryEngine.openIndex")(QueryEngine.openIndex(c.spark, lastSnap, cacheServing = false))
        c.tr.call("QueryEngine.runOnHandle", "first")(
          QueryEngine.runOnHandle(c.spark, h, heavy.take(QueriesPerBatch).map(q => q.id -> q.terms), K).collect())
      }
    }

    def probe(q: Seq[(Int, Seq[String])]): Unit =
      QueryEngine.runOnIndex(c.spark, lastSnap, q, K).collect()

    def report(units: Long, opSeconds: Double): Unit = {
      c.rec.set("ingest_docs_per_s", units / opSeconds, "1/s")
      c.rec.set("cycles", metas.size.toDouble, "count")
      c.rec.set("corpus_docs", nDocs.toDouble, "count")
      c.rec.set("snapshot_docs", metas.lastOption.map(_.n_docs.toDouble).getOrElse(0.0), "count")
      c.rec.set("index_bytes", c.dirBytes(lastSnap).toDouble, "bytes")
    }
  }

  // ---- the run -----------------------------------------------------------

  def run(o: Opts, spark: SparkSession, tr: Trace): Int = {
    val rec = new Rec
    val c = new Ctx(o, spark, tr, rec)
    val w: Workload = o.workload match {
      case "bulk-build" => new BulkBuild(c)
      case "serve-batch" => new Serve(c, batch = 1000)
      case "serve-single" => new Serve(c, batch = 1)
      case "ingest-query" => new IngestQuery(c)
    }

    progress("session ready")
    tr.call("inputs", "setup")(w.inputs())
    // the inputs are a function of the seed: regenerating a slice gives
    // the same content, and the next seed gives other content
    val head = c.digest(w.docsTable.where(col("doc_id") < 2000))
    if (c.digest(Gen.docs(spark, o.seed, 0, 2000, c.slices).toDF()) != head)
      rec.fail(-1, s"seed ${o.seed} regenerated a different corpus")
    if (c.digest(Gen.docs(spark, o.seed + 1, 0, 2000, c.slices).toDF()) == head)
      rec.fail(-1, s"seeds ${o.seed} and ${o.seed + 1} gave the same corpus")
    val log = Gen.queries(o.seed, w.nQueries)
    if (log.map(q => Tokenize.tokenize(q.qtext).distinct) != w.queries.map(_.terms) ||
        log != Gen.queries(o.seed, w.nQueries))
      rec.fail(-1, s"seed ${o.seed} regenerated a different query log")
    if (log == Gen.queries(o.seed + 1, w.nQueries))
      rec.fail(-1, s"seeds ${o.seed} and ${o.seed + 1} gave the same query log")
    progress("inputs written")

    (0 until SetupReps).foreach { r =>
      val t0 = System.nanoTime()
      tr.call("setup", "setup")(w.setup())
      rec.time("setup_s", secondsSince(t0))
      progress(s"set-up ${r + 1} of $SetupReps done")
    }

    // untimed warm-up operations, so the timed ones run compiled code
    rec.recording = false
    var i = 0
    while (i < w.warmups) {
      w.prepare(i)
      try w.op(i, traced = false)
      catch { case e: Exception => rec.fail(i, s"warm-up op $i threw: $e") }
      i += 1
    }
    rec.recording = true
    progress(s"$i warm-up operations done")

    // the timed closed loop; when traced, operations run bare, traced,
    // traced, bare in blocks of four, so the two halves sit at the same
    // mean position in the loop (the JVM still warms up while it runs)
    // and their difference is the overhead
    val opMs = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Boolean]
    var units = 0L
    val start = System.nanoTime()
    while ((i < w.warmups + minOps(tr.enabled) || secondsSince(start) < o.seconds) && !w.exhausted(i)) {
      val t = tr.enabled && (i % 4 == 1 || i % 4 == 2)
      w.prepare(i)
      val t0 = System.nanoTime()
      try units += w.op(i, t)
      catch { case e: Exception => rec.fail(i, s"op $i threw: $e") }
      opMs += (System.nanoTime() - t0) / 1e6
      traced += t
      i += 1
    }
    progress(s"${i - w.warmups} timed operations done")
    val opSeconds = opMs.sum / 1e3
    rec.timings("op_ms") = opMs
    w.report(units, opSeconds)
    if (tr.enabled) {
      // informational: a few operations a side, so the sign can flip
      // between runs; the gated figures come from untraced runs
      val bare = opMs.zip(traced).collect { case (m, false) => m }
      val withTrace = opMs.zip(traced).collect { case (m, true) => m }
      rec.set("tracing_overhead_pct", (median(withTrace.toSeq) / median(bare.toSeq) - 1) * 100, "%")
      rec.set("tracing_overhead_ops_per_side", math.min(bare.size, withTrace.size).toDouble, "count")
    }

    try w.gate(i)
    catch { case e: Exception => rec.fail(-1, s"gate threw: $e") }
    progress("correctness gate done")

    val layer: Seq[(String, Double, String)] =
      if (!tr.enabled) Nil
      else {
        val oov = Seq(1 -> Seq(s"${Gen.OovMarker}probe"))
        (0 until 7).foreach(_ => tr.call("QueryEngine.probe", "probe")(w.probe(oov)))
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        Layers.metrics(tr)
      }

    val attempted = i - w.warmups
    val failed = math.min(attempted, rec.failedOps.size + rec.otherFailures)
    rec.set("error_rate", failed.toDouble / attempted, "ratio")
    val correct = rec.failures.isEmpty

    // human-readable report on stdout
    println(s"perfbench ${o.workload} seed=${o.seed} seconds=${o.seconds} trace=${if (o.trace) 1 else 0}")
    println(f"  ${"metric"}%-30s ${"value"}%14s  unit")
    rec.timings.foreach { case (n, xs) =>
      val unit = n.split('_').last
      println(f"  ${n.stripSuffix("_" + unit) + "_p50_" + unit}%-30s ${median(xs.toSeq)}%14.4f  $unit  (n=${xs.size})")
      tail(xs.toSeq).foreach { case (p, v) =>
        println(f"  ${n.stripSuffix("_" + unit) + "_" + p + "_" + unit}%-30s $v%14.4f  $unit  (n=${xs.size})")
      }
    }
    rec.values.foreach { case (n, (v, u)) => println(f"  $n%-30s $v%14.4f  $u") }
    if (tr.enabled) {
      println(Layers.table(tr))
      layer.foreach { case (n, v, u) => println(f"  $n%-34s $v%16.4f  $u") }
    }
    rec.failures.take(20).foreach(f => println(s"  FAILED: $f"))

    val gated: Seq[(String, Double, String)] =
      if (tr.enabled) layer
      else Seq(("setup_s", median(rec.timings("setup_s").toSeq), "s"),
        ("op_p50_ms", median(opMs.toSeq), "ms"))
    val result = Json.obj(Seq("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> gated.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap))

    val host = Host.facts(spark)
    val detail = Json.obj(Seq(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "result" -> Json.Raw(result), "host" -> Json.Raw(host),
      "timings" -> rec.timings.map { case (n, xs) =>
        n -> Json.Raw(Json.obj(Seq("p50" -> median(xs.toSeq), "n" -> xs.size) ++
          tail(xs.toSeq).toSeq.map { case (p, v) => p -> v } :+ ("samples" -> xs.toSeq)))
      },
      "values" -> rec.values.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> layer.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "failures" -> rec.failures.toSeq))
    val results = java.nio.file.Paths.get(o.root, "results")
    java.nio.file.Files.createDirectories(results)
    val stem = s"${o.workload}-${o.seed}-${if (o.trace) 1 else 0}"
    java.nio.file.Files.write(results.resolve(s"$stem.json"), (detail + "\n").getBytes("UTF-8"))
    if (tr.enabled) tr.writeSpans(results.resolve(s"$stem.spans.jsonl"))
    println(s"  host: $host")
    println(s"  detail: ${results.resolve(s"$stem.json")}")
    if (correct) 0 else 1
  }
}
