package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.{Attrs, IndexBuild, Merge, Positional}
import graft.extra.Pages

/** Incremental index maintenance via Structured Streaming — the
  * Spark-first expression of the reference's incremental insert
  * (`InsertIvf`, `src/index_ivf.cpp:82-108`: posting lists grow without
  * re-reading earlier data) over the input_hint pages stream.
  *
  * Shape (the Lucene segment + merge-policy pattern, reusing this repo's
  * proven pieces — nothing here is a new index format):
  *
  *  - each micro-batch of pages extracts text ([[Pages.toDocuments]]),
  *    takes a MONOTONE dense doc-id offset (1 + max doc id over all
  *    previously committed batch indexes), and runs the normal
  *    [[IndexBuild.writeIndex]] into its own `batches/batch=<id>` dir —
  *    a complete, independently queryable index whose docId interval is
  *    disjoint from every other batch's by construction;
  *  - [[compact]] folds the batch indexes into one serving index with
  *    [[Merge.concatMergeIndexes]] — the zero-decode block concat, legal
  *    exactly BECAUSE the intervals are disjoint; the result is
  *    bit-identical to a one-shot build of the concatenated corpus
  *    (MergeSpec invariant, re-asserted end-to-end in StreamIngestSpec).
  *
  * Exactly-once: Spark's streaming checkpoint dedupes batch REPLAY, and
  * [[ingestBatch]] is idempotent on top — a replayed batch sees its
  * committed `stats/meta` (the build's commit point, written LAST) and
  * skips; a batch killed MID-build left no meta, and its doc-id offset
  * re-derives identically because it reads only batches with SMALLER ids
  * (deterministic extraction ⇒ the rebuild is byte-identical). This is
  * the same manifest-last discipline as the batch engine's resume path.
  *
  * Scale shape: per-batch work is one fused build over the batch (no
  * global state, no re-tokenize of old data); compaction cost is one
  * read+concat of compressed blocks, amortized at any batch count the
  * usual exponential merge tiers would give — at 10^12 docs the batches
  * are Iceberg-partition-sized and this IS the checkpointed per-partition
  * build the north rule asks for, driven by a stream instead of a loop.
  */
object StreamIngest {

  def batchDir(workDir: String, batchId: Long): String =
    f"$workDir/batches/batch=$batchId%05d"

  private def fs(spark: SparkSession) =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def committed(spark: SparkSession, dir: String): Boolean =
    IndexBuild.exists(spark, s"$dir/stats/meta")

  /** Ids of batches already committed under workDir (meta present). */
  def committedBatchIds(spark: SparkSession, workDir: String): Seq[Long] = {
    val base = new org.apache.hadoop.fs.Path(s"$workDir/batches")
    val f = fs(spark)
    if (!f.exists(base)) Seq.empty
    else f.listStatus(base).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("batch=") => s.stripPrefix("batch=").toLong }
      .filter(id => committed(spark, batchDir(workDir, id)))
      .sorted
  }

  /** Streamed docs frame: the extraction output plus DERIVED filterable
    * attributes — the input_hint page stream carries no metadata columns
    * beyond url, so n_chars (and url itself) are what per-batch attr
    * sidecars can serve. Derivation is deterministic, so a replayed batch
    * rebuilds identical sidecars. */
  private def docsOf(pagesBatch: DataFrame, offset: Long): DataFrame =
    Pages.toDocuments(pagesBatch)
      .select((col("doc_id") + offset).as("doc_id"), col("text"), col("url"),
        length(col("text")).cast("long").as("n_chars"))

  /** One micro-batch: extract → offset ids → build a segment index (+
    * sidecars). Idempotent (replay sees the committed meta and skips) —
    * including the kill window where the INDEX committed but a sidecar
    * write didn't: the replay path repairs the missing sidecars from the
    * same deterministic batch, so the tier merge (which requires uniform
    * sidecar presence) can never wedge on a half-committed batch.
    * Returns the batch's meta, or None for an empty/replayed batch. */
  def ingestBatch(spark: SparkSession, pagesBatch: DataFrame, workDir: String,
                  cfg: IndexBuild.Config, batchId: Long,
                  attrCols: Seq[String] = Nil,
                  withPositions: Boolean = false): Option[IndexBuild.Meta] = {
    val dir = batchDir(workDir, batchId)
    def sidecars(docs: => DataFrame): Unit = {
      if (attrCols.nonEmpty && !Attrs.hasAttrs(spark, dir))
        Attrs.writeAttrs(spark, docs, dir, attrCols)
      if (withPositions &&
          !Positional.hasPositions(spark, Positional.positionsDir(dir)))
        Positional.writeBuild(spark, docs, Positional.positionsDir(dir),
          cfg.bucketWidth, cfg.numPartitions)
    }
    // monotone offset from PRIOR batches only — deterministic on replay
    def offset: Long = committedBatchIds(spark, workDir).filter(_ < batchId)
      .map(id => IndexBuild.readMeta(spark, batchDir(workDir, id)).max_doc_id + 1)
      .foldLeft(0L)(math.max)
    if (committed(spark, dir)) {
      // a STRIPPED batch (content merged into a segment) keeps only its
      // meta — its sidecars live in the merged segment; only an unmerged
      // batch dir (segments still present) repairs here
      if (fs(spark).exists(new org.apache.hadoop.fs.Path(IndexBuild.segmentsDir(dir))))
        sidecars(docsOf(pagesBatch, offset))
      return Some(IndexBuild.readMeta(spark, dir))
    }
    if (pagesBatch.isEmpty) return None
    val docs = docsOf(pagesBatch, offset)
    val meta = IndexBuild.writeIndex(spark, docs.select(col("doc_id"), col("text")),
      dir, cfg)
    sidecars(docs)
    Some(meta)
  }

  /** Wire a streaming pages source into per-batch index builds, with
    * log-structured tier maintenance after every batch (`tierFactor` ≥ 2;
    * 0 disables tiering — every batch stays its own segment until
    * [[compact]]). The caller owns the trigger/await; checkpoint lives
    * under workDir. */
  def start(pages: DataFrame, workDir: String,
            cfg: IndexBuild.Config, tierFactor: Int = 2,
            attrCols: Seq[String] = Nil,
            withPositions: Boolean = false): StreamingQuery = {
    val spark = pages.sparkSession
    pages.writeStream
      .option("checkpointLocation", s"$workDir/checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(spark, batch, workDir, cfg, batchId, attrCols, withPositions)
        if (tierFactor >= 2) { tierUp(spark, workDir, tierFactor); () }
      }
      .start()
  }

  // ---- log-structured merge tiers ---------------------------------------
  /** One live log unit: either a merged segment (`segs/seg=<lo>-<hi>`) or
    * an uncovered batch index. Units cover disjoint, increasing batch-id
    * ranges (and therefore disjoint, increasing docId intervals). */
  final case class LogUnit(lo: Long, hi: Long, dir: String)

  def segDir(workDir: String, lo: Long, hi: Long): String =
    f"$workDir/segs/seg=$lo%05d-$hi%05d"

  /** ALL committed merged segments under workDir/segs, including ones
    * subsumed by a larger segment (a merge killed between its meta-last
    * commit and input cleanup leaves both on disk). */
  private def allSegs(spark: SparkSession, workDir: String): Seq[LogUnit] = {
    val base = new org.apache.hadoop.fs.Path(s"$workDir/segs")
    val f = fs(spark)
    if (!f.exists(base)) Seq.empty[LogUnit]
    else f.listStatus(base).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("seg=") =>
        val Array(lo, hi) = s.stripPrefix("seg=").split("-").map(_.toLong)
        LogUnit(lo, hi, s"$workDir/segs/$s")
      }
      .filter(u => committed(spark, u.dir))
  }

  private def subsumed(all: Seq[LogUnit])(u: LogUnit): Boolean =
    all.exists(v => (v.lo < u.lo || v.hi > u.hi) && v.lo <= u.lo && u.hi <= v.hi)

  /** Committed merged segments with any segment fully subsumed by a
    * larger one dropped. */
  private def committedSegs(spark: SparkSession, workDir: String): Seq[LogUnit] = {
    val all = allSegs(spark, workDir)
    all.filterNot(subsumed(all))
  }

  /** Recovery sweep for the kill window between a merge's meta-last
    * commit and its input cleanup: the subsumed inputs are invisible to
    * [[currentUnits]] (so the LOG is already correct) but their full
    * posting contents would otherwise sit on disk FOREVER — no later
    * tierUp ever holds them in a merge group again. Deleting subsumed
    * segment dirs and stripping covered batch dirs here makes the
    * post-merge cleanup idempotent across restarts. */
  private def reclaim(spark: SparkSession, workDir: String): Unit = {
    val f = fs(spark)
    val all = allSegs(spark, workDir)
    val live = all.filterNot(subsumed(all))
    all.filter(subsumed(all)).foreach { u =>
      f.delete(new org.apache.hadoop.fs.Path(u.dir), true); ()
    }
    committedBatchIds(spark, workDir)
      .filter(id => live.exists(u => u.lo <= id && id <= u.hi))
      .map(id => batchDir(workDir, id))
      .filter(d => f.exists(new org.apache.hadoop.fs.Path(IndexBuild.segmentsDir(d))))
      .foreach(d => stripToMeta(spark, d))
  }

  /** The current log: merged segments + batches not covered by any
    * segment, in batch-id (= docId-interval) order. */
  def currentUnits(spark: SparkSession, workDir: String): Seq[LogUnit] = {
    val segs = committedSegs(spark, workDir)
    val batches = committedBatchIds(spark, workDir)
      .filterNot(id => segs.exists(u => u.lo <= id && id <= u.hi))
      .map(id => LogUnit(id, id, batchDir(workDir, id)))
    (segs ++ batches).sortBy(_.lo)
  }

  /** Exponential merge tiers (round-3 VERDICT: `compact` folded ALL
    * batches every call — an O(total) rewrite per compaction): merge only
    * when `tierFactor` adjacent trailing units carry the SAME batch count,
    * the log-structured analog of the reference's never-rewrite
    * incremental insert (`src/index_ivf.cpp:82-108`). With T=tierFactor,
    * any posting is rewritten at most log_T(K) times across K batches
    * (binary-counter dynamics at T=2), and the live log never exceeds
    * ~T·log_T(K) units. Merged inputs are cleaned up AFTER the merged
    * segment's meta-last commit: segment inputs delete entirely; batch
    * inputs strip to their `stats/meta` marker, which [[ingestBatch]]'s
    * replay-idempotence and doc-id-offset derivation still read.
    * Returns the merges performed as (lo, hi, nBatches) for audit. */
  def tierUp(spark: SparkSession, workDir: String,
             tierFactor: Int = 2): Seq[(Long, Long, Int)] = {
    require(tierFactor >= 2, s"tierFactor must be >= 2, got $tierFactor")
    reclaim(spark, workDir) // idempotent crash recovery (see its doc)
    val ids = committedBatchIds(spark, workDir)
    def weight(u: LogUnit): Int = ids.count(id => u.lo <= id && id <= u.hi)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    var loop = true
    while (loop) {
      val units = currentUnits(spark, workDir)
      val w = units.map(weight)
      val runLen = w.reverse.takeWhile(_ == w.last).size
      if (units.size < tierFactor || runLen < tierFactor) loop = false
      else {
        // merge the OLDEST tierFactor units of the trailing equal-weight
        // run (contiguous => the merged range stays an interval)
        val group = units.takeRight(runLen).take(tierFactor)
        val out = segDir(workDir, group.head.lo, group.last.hi)
        Merge.concatMergeIndexes(spark, group.map(_.dir), out) // meta-last commit
        group.foreach { u =>
          if (u.dir.contains("/segs/")) { fs(spark).delete(new org.apache.hadoop.fs.Path(u.dir), true); () }
          else stripToMeta(spark, u.dir)
        }
        merges += ((group.head.lo, group.last.hi, group.map(weight).sum))
      }
    }
    merges.toSeq
  }

  /** Delete everything under an index dir except its `stats/meta` commit
    * marker — the batch dir stays a replay/offset tombstone after its
    * content moved into a merged segment. */
  private def stripToMeta(spark: SparkSession, dir: String): Unit = {
    val f = fs(spark)
    val p = new org.apache.hadoop.fs.Path(dir)
    f.listStatus(p).foreach { st =>
      if (st.getPath.getName != "stats") f.delete(st.getPath, true)
      else f.listStatus(st.getPath).foreach { s2 =>
        if (s2.getPath.getName != "meta") f.delete(s2.getPath, true)
      }
    }
  }

  /** Fold the current log units into one serving index (zero-decode
    * concat; disjoint intervals are validated driver-side by the merge).
    * With tiering on, this folds ~T·log_T(K) segments, not K batches.
    * With a single unit the index is already in final form and is copied
    * file by file. Either way `outDir` is replaced whole and committed
    * like every index writer: clear, content, then meta LAST — the copy
    * skips the unit's `stats/meta` and rewrites it at the end, so a copy
    * killed mid-way leaves a dir that fails to open. */
  def compact(spark: SparkSession, workDir: String, outDir: String): IndexBuild.Meta = {
    val dirs = currentUnits(spark, workDir).map(_.dir)
    require(dirs.nonEmpty, "no committed batches to compact")
    if (dirs.size == 1) {
      IndexBuild.requireNotInput(spark, dirs, outDir)
      IndexBuild.clearIndexDir(spark, outDir)
      // file by file: FileUtil.copy of a directory onto an existing one
      // nests it (clearIndexDir keeps `metrics/`), and meta must come last
      val f = fs(spark)
      val src = f.makeQualified(new org.apache.hadoop.fs.Path(dirs.head))
      val files = f.listFiles(src, true)
      while (files.hasNext) {
        val file = files.next().getPath
        val rel = src.toUri.relativize(file.toUri).getPath
        if (rel != "stats/meta")
          org.apache.hadoop.fs.FileUtil.copy(f, file, f,
            new org.apache.hadoop.fs.Path(outDir, rel), false, true,
            spark.sparkContext.hadoopConfiguration)
      }
      val meta = IndexBuild.readMeta(spark, dirs.head)
      IndexBuild.writeMetaFile(spark, s"$outDir/stats/meta", meta)
      meta
    } else Merge.concatMergeIndexes(spark, dirs, outDir)
  }
}
