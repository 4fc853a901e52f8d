package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-pass segment merge — the graft of the reference's segment union
  * (`LoadFromBook` merging per-cluster files into one index,
  * `src/index_ivfpq.cpp:122-159`, SURVEY.md §2.3 J5) as Catalyst-planned
  * DataFrame work per the north rule:
  *
  *  - per-term stats merge: FULL OUTER JOIN on term, df/cf additive
  *    (input indexes must cover disjoint doc sets — checked via metas);
  *  - posting merge: decoded postings of all inputs unioned, then the
  *    SAME salted repartition (head terms under the MERGED df re-salt
  *    into docId buckets; a term that was rare in every input but is a
  *    head term of the union gets re-bucketed correctly) and block
  *    rebuild as the primary build — so a merged index is bit-identical
  *    to a single build over the union corpus (spec-asserted).
  *
  * Scale note: interleaved docId ranges (e.g. doc_id % 2 splits) force
  * per-posting re-encoding — that cost is one decode + one bounded
  * shuffle, strictly cheaper than a rebuild (no tokenization / tf
  * aggregation of raw text). When input doc ranges are disjoint
  * INTERVALS, blocks are self-contained (absolute first docId) and could
  * be concatenated without decode; that fast path is a planned
  * optimization, the correctness semantics here are the contract.
  * Merge is associative: apply in passes for N-way merges of arbitrary
  * fan-in.
  */
object Merge {

  /** Decoded postings of an index as (doc_id, term, tf, dl) rows. */
  def decodedPostings(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    IndexBuild.readSegments(spark, dir)
      .flatMap(Codec.decodeAll _)
      .select($"doc_id", $"term", $"tf", $"dl")
  }

  /** Merged per-term stats via full-outer join (Catalyst-planned; the
    * join reduces pairwise for >2 inputs). */
  def mergeTermStats(stats: Seq[DataFrame]): DataFrame =
    stats.reduce { (a, b) =>
      a.select(col("term"), col("df").as("df_a"), col("cf").as("cf_a"))
        .join(b.select(col("term"), col("df").as("df_b"), col("cf").as("cf_b")),
          Seq("term"), "fullouter")
        .select(col("term"),
          (coalesce(col("df_a"), lit(0L)) + coalesce(col("df_b"), lit(0L))).as("df"),
          (coalesce(col("cf_a"), lit(0L)) + coalesce(col("cf_b"), lit(0L))).as("cf"))
    }

  /** FAST merge for inputs covering DISJOINT docId INTERVALS (the web-
    * scale append case: each crawl batch owns a fresh docId range).
    * Blocks are self-contained (absolute first docId, headers carry
    * n/max_doc/max_tf/min_dl), so per (term, bucket) the merged list is
    * the inputs' block lists CONCATENATED in min_doc order — zero decode,
    * zero re-encode, no per-posting work; the only data movement is one
    * shuffle of compressed rows back to their (unchanged) part_id.
    * Interval disjointness is checked at merge time (run order must be
    * strictly increasing); interleaved inputs must use [[mergeIndexes]].
    * Result is posting-identical (not block-boundary-identical) to a
    * fresh build — block cuts reflect merge history, as in any
    * log-structured engine; no reader assumes full blocks. */
  def concatSegments(rows: Iterator[PostingRow]): Iterator[PostingRow] =
    new Iterator[PostingRow] {
      private val it = rows.buffered
      def hasNext: Boolean = it.hasNext
      def next(): PostingRow = {
        val head = it.next()
        var n = head.n; var cf = head.cf
        var lastMax = head.blocks.last.max_doc
        val blocks = scala.collection.mutable.ArrayBuffer[Block](head.blocks: _*)
        while (it.hasNext && it.head.term == head.term && it.head.bucket == head.bucket) {
          val r = it.next()
          require(r.min_doc > lastMax,
            s"interleaved docId ranges for (${head.term},${head.bucket}): " +
              s"${r.min_doc} <= $lastMax — use mergeIndexes for interleaved inputs")
          n += r.n; cf += r.cf; lastMax = r.blocks.last.max_doc
          blocks ++= r.blocks
        }
        PostingRow(head.part_id, head.term, head.bucket, n, cf, head.min_doc,
          blocks.toSeq)
      }
    }

  /** Fast-path N-way index merge by block concatenation (see
    * [[concatSegments]]). Same manifest/stats/meta contract as
    * [[mergeIndexes]].
    *
    * Interval disjointness is validated DRIVER-SIDE from the input metas
    * (min/max doc_id) before anything is written — a violation must not
    * leave a half-written outDir. Commit ordering mirrors writeIndex:
    * segments + manifest first, stats next, meta LAST — readMeta requires
    * meta, so a merge that dies mid-write leaves an index that FAILS to
    * open rather than one that opens and silently misses segments. */
  def concatMergeIndexes(spark: SparkSession, dirs: Seq[String], outDir: String,
                         dropSidecars: Boolean = false): IndexBuild.Meta = {
    import spark.implicits._
    require(dirs.size >= 2, "merge needs at least two inputs")
    val metas = dirs.map(IndexBuild.readMeta(spark, _))
    val cfgs = metas.map(m => (m.num_partitions, m.bucket_width, m.head_df,
      m.block_size, m.doc_partitioned)).distinct
    require(cfgs.size == 1, s"mismatched build configs across inputs: $cfgs")
    metas.sortBy(_.min_doc_id).sliding(2).foreach {
      case Seq(a, b) => require(a.max_doc_id < b.min_doc_id,
        s"input docId intervals overlap: [${a.min_doc_id},${a.max_doc_id}] vs " +
          s"[${b.min_doc_id},${b.max_doc_id}] — use mergeIndexes for interleaved inputs")
      case _ => ()
    }
    val meta = IndexBuild.Meta(
      n_docs = metas.map(_.n_docs).sum,
      n_tokens = metas.map(_.n_tokens).sum,
      max_doc_id = metas.map(_.max_doc_id).max,
      min_doc_id = metas.map(_.min_doc_id).min,
      num_partitions = metas.head.num_partitions,
      bucket_width = metas.head.bucket_width,
      head_df = metas.head.head_df, block_size = metas.head.block_size,
      doc_partitioned = metas.head.doc_partitioned,
      // concat never re-encodes (per-block codec ids travel with the
      // blocks), so mixed-codec inputs are fine; the meta advises future
      // appends/merges with the FIRST input's codec
      codec = metas.head.codec)

    val postings = dirs.map(IndexBuild.readSegments(spark, _))
      .reduce(_ unionByName _)
      .repartition(meta.num_partitions, $"part_id")
      .sortWithinPartitions($"term", $"bucket", $"min_doc")
      .mapPartitions(concatSegments _)
    postings.write.mode(SaveMode.Overwrite).partitionBy("part_id")
      .parquet(IndexBuild.segmentsDir(outDir))
    // manifest/stats from the just-written segments (block-pruned parquet
    // read), not a persisted copy — same reasoning as writeIndex. Stats
    // use the SAME aggregation as writeIndex: df/cf equal the full-outer-
    // join stats merge by construction, and max_bucket describes the
    // output layout for query routing.
    val written = spark.read.schema(IndexBuild.segmentSchema)
      .parquet(IndexBuild.segmentsDir(outDir))
    written.groupBy($"part_id")
      .agg(count(lit(1)).as("n_lists"), sum($"n").as("n_postings"))
      .write.mode(SaveMode.Overwrite).parquet(IndexBuild.manifestDir(outDir))
    writeStatsFromPostings(written, outDir)
    mergeSidecarsInto(spark, dirs, outDir, meta.block_size,
      concat = true, drop = dropSidecars)
    IndexBuild.writeMetaFile(spark, s"$outDir/stats/meta", meta)
    meta
  }

  /** stats/terms from built postings — the SAME aggregation writeIndex
    * uses ([[IndexBuild.termStatsFromPostings]]), by construction. */
  private def writeStatsFromPostings(postings: DataFrame, outDir: String): Unit =
    IndexBuild.termStatsFromPostings(postings)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/stats/terms")

  /** Carry the inputs' attrs/positions sidecars into the merged index
    * (round-4 VERDICT #2: the merge silently dropped them — a merged
    * index lost filtered queries and phrase/proximity capability; the
    * reference merges everything an index has, `src/index_ivfpq.cpp:
    * 122-159` LoadFromBook unions whole clusters). Presence must be
    * UNIFORM per sidecar kind across inputs: a mixed set means the merged
    * index would silently answer from partial coverage, so it refuses
    * loudly unless the caller opts out with dropSidecars=true. Runs
    * BEFORE the meta-last commit of the main merge, so a merge killed
    * mid-sidecar still leaves an index that fails to open. */
  private def mergeSidecarsInto(spark: SparkSession, dirs: Seq[String],
                                outDir: String, blockSize: Int,
                                concat: Boolean, drop: Boolean): Unit = {
    def uniform(kind: String, have: Seq[Boolean]): Boolean = {
      require(drop || have.distinct.size == 1,
        s"$kind sidecar present on ${dirs.zip(have).filter(_._2).map(_._1)} " +
          s"but missing on ${dirs.zip(have).filterNot(_._2).map(_._1)} — " +
          "write it on every input, or pass dropSidecars = true to merge " +
          "without it")
      !drop && have.forall(identity)
    }
    if (uniform("attrs", dirs.map(Attrs.hasAttrs(spark, _))))
      Attrs.mergeSidecars(spark, dirs, outDir, blockSize, concat)
    if (uniform("positions",
        dirs.map(d => Positional.hasPositions(spark, Positional.positionsDir(d)))))
      Positional.mergeSidecars(spark, dirs.map(Positional.positionsDir),
        Positional.positionsDir(outDir), concat)
  }

  /** Merge N on-disk indexes into `outDir`. Inputs must have identical
    * build configs and disjoint doc sets. */
  def mergeIndexes(spark: SparkSession, dirs: Seq[String], outDir: String,
                   dropSidecars: Boolean = false): IndexBuild.Meta = {
    import spark.implicits._
    require(dirs.size >= 2, "merge needs at least two inputs")
    val metas = dirs.map(IndexBuild.readMeta(spark, _))
    val cfgs = metas.map(m => (m.num_partitions, m.bucket_width, m.head_df,
      m.block_size, m.doc_partitioned)).distinct
    require(cfgs.size == 1, s"mismatched build configs across inputs: $cfgs")
    // this path DECODES and RE-ENCODES every posting, so the output codec
    // matters: emit the first input's (round-5 fix — the Config default
    // silently re-encoded merged PFor indexes as VByte). Blocks decode by
    // their own per-block ids, so mixed-codec inputs still merge; the
    // output is uniformly metas.head.codec.
    val cfg = IndexBuild.Config(metas.head.num_partitions, metas.head.bucket_width,
      metas.head.head_df, metas.head.block_size, metas.head.doc_partitioned,
      codec = metas.head.codec)

    val meta = IndexBuild.Meta(
      n_docs = metas.map(_.n_docs).sum,
      n_tokens = metas.map(_.n_tokens).sum,
      max_doc_id = metas.map(_.max_doc_id).max,
      min_doc_id = metas.map(_.min_doc_id).min,
      num_partitions = cfg.numPartitions, bucket_width = cfg.bucketWidth,
      head_df = cfg.headDf, block_size = cfg.blockSize,
      doc_partitioned = cfg.docPartitioned, codec = cfg.codec)

    // merged stats (Catalyst full-outer join) drive the RE-SALT decision:
    // a term that was rare in every input but is a head term of the union
    // gets re-bucketed under its exact merged df
    val ts = mergeTermStats(dirs.map(IndexBuild.readTermStats(spark, _)))
    val tf = dirs.map(decodedPostings(spark, _)).reduce(_ unionByName _)
    val postings = IndexBuild.postingsPipeline(spark, tf,
      IndexBuild.headTerms(spark, ts, cfg), cfg)
    // segments + manifest first, stats next, meta LAST (commit point) —
    // a merge that dies mid-write must not leave an openable index
    // with missing segments. Manifest/stats read the just-written
    // segments (block-pruned) rather than a persisted pipeline copy.
    postings.write.mode(SaveMode.Overwrite).partitionBy("part_id")
      .parquet(IndexBuild.segmentsDir(outDir))
    val written = spark.read.schema(IndexBuild.segmentSchema)
      .parquet(IndexBuild.segmentsDir(outDir))
    written.groupBy($"part_id")
      .agg(count(lit(1)).as("n_lists"), sum($"n").as("n_postings"))
      .write.mode(SaveMode.Overwrite).parquet(IndexBuild.manifestDir(outDir))
    writeStatsFromPostings(written, outDir)
    mergeSidecarsInto(spark, dirs, outDir, cfg.blockSize,
      concat = false, drop = dropSidecars)
    IndexBuild.writeMetaFile(spark, s"$outDir/stats/meta", meta)
    meta
  }
}
