package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Positional sidecar index + exact phrase top-k.
  *
  * Beyond-reference capability (the reference engine has no notion of
  * token order; this is the classic fulltext feature its ANN shape cannot
  * express): a doc-bucketed positions table — per (term, docId-bucket),
  * every (doc, dl, token positions of the term) — and an exact
  * phrase-match query over it, scored like a single BM25 term whose tf is
  * the phrase's occurrence count (overlapping starts count, the positional
  * chain-join semantics) and whose df is the number of docs containing
  * the phrase at least once.
  *
  * Layout choice (scale): positions live OUTSIDE the main posting blocks —
  * the main index pays zero bytes for them (Lucene's .pos sidecar shape),
  * and only phrase queries read them. Rows are bucketed by docId range
  * like the serving layout, so phrase evaluation is a LOCAL per-bucket
  * intersection: a doc's positions for all phrase terms are in the same
  * bucket row group, and per-task memory is bounded by one bucket's token
  * mass (width · avgdl), the same bound the TAAT scorer rides. The encode
  * is one shuffle of the exploded tokens; no driver-side state.
  *
  * On-disk layout under a sidecar dir (canonically `<index dir>/positions`),
  * committed through [[IndexBuild.commitParts]], meta LAST:
  *   segments/part_id=N/  PosRow parquet, part_id = pmod(bucket, P),
  *                        term-sorted within files
  *   manifest             (part_id, n_rows, n_doc_entries) — resume lineage
  *   meta                 JSON {format, width, num_partitions} — the commit
  *                        point; [[read]] refuses a sidecar without it
  */
object Positional {

  /** All positions of `term` for the docs of one docId bucket.
    * `bytes`: VByte stream, per doc in ascending docId order:
    *   gap(docId) [first absolute], dl, npos, gap(pos)... [first absolute]
    * npos = the term's tf in the doc; positions are 0-based token indexes
    * (post-tokenizer, empties dropped) and strictly increasing. */
  final case class PosRow(term: String, bucket: Int, n: Long, min_doc: Long,
                          bytes: Array[Byte])

  /** One decoded doc entry of a [[PosRow]]. */
  final case class DocPositions(doc_id: Long, dl: Int, positions: Array[Int])

  def encodeRow(term: String, bucket: Int,
                docs: Seq[(Long, Int, Array[Int])]): PosRow = {
    val sink = new Codec.ByteSink()
    var prevDoc = -1L
    docs.foreach { case (doc, dl, pos) =>
      require(doc > prevDoc, s"docs must be strictly increasing: $doc after $prevDoc")
      Codec.putVLong(sink, if (prevDoc < 0) doc else doc - prevDoc)
      prevDoc = doc
      Codec.putVLong(sink, dl.toLong)
      Codec.putVLong(sink, pos.length.toLong)
      var prev = -1
      pos.foreach { p =>
        require(p > prev, s"positions must be strictly increasing: $p after $prev")
        Codec.putVLong(sink, if (prev < 0) p.toLong else (p - prev).toLong)
        prev = p
      }
    }
    PosRow(term, bucket, docs.size.toLong, docs.head._1, sink.toArray)
  }

  def decodeRow(r: PosRow): Seq[DocPositions] = {
    val rd = new Codec.Reader(r.bytes)
    val out = Vector.newBuilder[DocPositions]
    var doc = -1L
    var i = 0L
    while (i < r.n) {
      val g = rd.readVLong()
      doc = if (doc < 0) g else doc + g
      val dl = rd.readVLong().toInt
      val npos = rd.readVLong().toInt
      val pos = new Array[Int](npos)
      var p = -1
      var j = 0
      while (j < npos) {
        val pg = rd.readVLong().toInt
        p = if (p < 0) pg else p + pg
        pos(j) = p
        j += 1
      }
      out += DocPositions(doc, dl, pos)
      i += 1
    }
    out.result()
  }

  /** Build the positions table — the main build's fused map-side-partial
    * shape, not an exploded-token shuffle: v1 shuffled one row PER TOKEN
    * (800M rows at 16M docs) through a full Tungsten sort and measured
    * 46× slower than the posting build; the payload only needs one row
    * per (term, bucket) PARTIAL. Each map task tokenizes its docs once,
    * accumulates per-(term, bucket) position entries, and emits encoded
    * partial [[PosRow]]s (periodically flushed so the live set stays
    * bounded); the shuffle then moves compressed position bytes keyed by
    * (term, bucket) — ~#keys rows, not #tokens — and the reduce merges
    * each key's partials by docId (entries are per-doc self-contained,
    * so a merge is decode + stable resort + re-encode of ≤ width docs). */
  def build(spark: SparkSession, docs: DataFrame, width: Long,
            flushEntries: Int = 2000000): Dataset[PosRow] =
    mergeByKey(buildPartials(spark, docs, width, flushEntries))

  /** Map-side partial stage of [[build]], exposed so the resumable disk
    * build ([[writeBuild]]) can drop already-committed part_ids BETWEEN
    * the partials and the shuffle — the same seam
    * [[IndexBuild.writeIndex]] resumes at. */
  def buildPartials(spark: SparkSession, docs: DataFrame, width: Long,
                    flushEntries: Int = 2000000): Dataset[PosRow] = {
    import spark.implicits._
    docs
      .where($"text".isNotNull) // no tokens, hence no positions (as in Stats.tfRows)
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap
          .empty[(String, Int), scala.collection.mutable.ArrayBuffer[(Long, Int, Array[Int])]]
        var live = 0
        var out = Vector.empty[PosRow]
        def flush(): Unit = {
          out = out ++ acc.iterator.map { case ((t, b), entries) =>
            encodeRow(t, b, entries.sortBy(_._1).toSeq)
          }
          acc.clear(); live = 0
        }
        val terms = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.ArrayBuffer[Int]]
        // Ranged tokenizer drive: one String per TOKEN (`substring`);
        // the map keeps the first of each distinct term as its key.
        val ranges = new Tokenize.TokenRanges()
        new Iterator[PosRow] {
          private var emitted: Iterator[PosRow] = Iterator.empty
          private def refill(): Unit = {
            while (!emitted.hasNext && (it.hasNext || live > 0 || acc.nonEmpty)) {
              if (!it.hasNext) { flush(); emitted = out.iterator; out = Vector.empty }
              else {
                val (doc, text) = it.next()
                val lower = text.toLowerCase
                val dl = Tokenize.scanTokensInto(lower, ranges)
                terms.clear()
                var i = 0
                while (i < dl) {
                  terms.getOrElseUpdate(lower.substring(ranges.starts(i), ranges.ends(i)),
                    scala.collection.mutable.ArrayBuffer.empty) += i
                  i += 1
                }
                val bucket = (doc / width).toInt
                terms.foreach { case (t, ps) =>
                  acc.getOrElseUpdate((t, bucket),
                    scala.collection.mutable.ArrayBuffer.empty) +=
                    ((doc, dl, ps.toArray))
                  live += ps.length
                }
                if (live >= flushEntries) { flush(); emitted = out.iterator; out = Vector.empty }
              }
            }
          }
          override def hasNext: Boolean = { refill(); emitted.hasNext }
          override def next(): PosRow = { refill(); emitted.next() }
        }
      }
  }

  /** Merge per-(term, bucket) partial [[PosRow]]s into one row per key
    * (entries are per-doc self-contained: decode + resort by docId +
    * re-encode). Also the INTERLEAVED-merge kernel for the sidecar — the
    * analog of the index merge's decoded-posting rebuild. */
  def mergeByKey(partials: Dataset[PosRow]): Dataset[PosRow] = {
    import partials.sparkSession.implicits._
    partials
      .groupByKey(r => (r.term, r.bucket))
      .mapGroups { (key: (String, Int), rows: Iterator[PosRow]) =>
        val all = rows.toSeq
        if (all.size == 1) all.head
        else encodeRow(key._1, key._2,
          all.flatMap(decodeRow).sortBy(_.doc_id)
            .map(d => (d.doc_id, d.dl, d.positions)))
      }
  }

  // ---- on-disk lifecycle: the index's commit path ([[IndexBuild]]'s
  // "one index-dir commit path" section) — ordered clear, committed-parts
  // resume read, partitioned write + manifest, meta LAST ------------------

  /** Canonical sidecar location under an index dir (what the merge and
    * the streaming tiers carry). */
  def positionsDir(indexDir: String): String = s"$indexDir/positions"

  def segmentsDir(posDir: String): String = s"$posDir/segments"
  def manifestDir(posDir: String): String = s"$posDir/manifest"
  private def metaPath(posDir: String): String = s"$posDir/meta"

  /** The sidecar's paths in [[IndexBuild.clearDirs]] order: meta, manifest,
    * segments, then the dir itself. */
  private[graft] def clearPaths(posDir: String): Seq[String] =
    Seq(metaPath(posDir), manifestDir(posDir), segmentsDir(posDir), posDir)

  /** On-disk format version (see [[Attrs.FormatVersion]] for the policy). */
  val FormatVersion = 1

  final case class PosMeta(format: Int, width: Long, num_partitions: Int)

  /** Segments schema, supplied explicitly: a corpus that tokenizes to
    * nothing writes a fileless dir and schema inference throws (same
    * hazard as [[IndexBuild.segmentSchema]]). part_id is the partition
    * column. */
  val segSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[PosRow].schema.add("part_id", "int")

  def hasPositions(spark: SparkSession, posDir: String): Boolean =
    IndexBuild.exists(spark, metaPath(posDir))

  def readMeta(spark: SparkSession, posDir: String): PosMeta = {
    require(hasPositions(spark, posDir),
      s"no committed positions sidecar at $posDir — a write killed before " +
        "its meta-last commit leaves no meta; rebuild with Positional.write " +
        "or Positional.writeBuild")
    val n = IndexBuild.readJson(spark, metaPath(posDir))
    val m = PosMeta(n.get("format").asInt, n.get("width").asLong,
      n.get("num_partitions").asInt)
    require(m.format == FormatVersion,
      s"positions sidecar at $posDir has format ${m.format}, this build " +
        s"reads $FormatVersion — rebuild it")
    m
  }

  /** Lay `pos` out by part_id = pmod(bucket, P), term-sorted within files
    * (tight row-group min/max stats: a phrase query's `term isin` prunes
    * row groups instead of scanning all), commit it through
    * [[IndexBuild.commitParts]] (`done` part_ids keep their manifest
    * rows), then the meta LAST. */
  private def commit(pos: Dataset[PosRow], posDir: String, width: Long,
                     numPartitions: Int, done: Set[Int]): Unit = {
    val parts = pos
      .withColumn("part_id", pmod(col("bucket"), lit(numPartitions)).cast("int"))
      .repartition(numPartitions, col("part_id"))
      .sortWithinPartitions(col("term"), col("bucket"), col("min_doc"))
    IndexBuild.commitParts(parts, segmentsDir(posDir), manifestDir(posDir), "part_id",
      Seq(count(lit(1)).as("n_rows"), sum(col("n")).as("n_doc_entries")), done)
    IndexBuild.commitJson(pos.sparkSession, metaPath(posDir),
      IndexBuild.recordJson(PosMeta(FormatVersion, width, numPartitions)))
  }

  /** Persist an in-memory built positions dataset, replacing any sidecar
    * at `dir`. A write killed mid-way leaves a dir [[read]] refuses to
    * open. */
  def write(pos: Dataset[PosRow], dir: String, width: Long,
            numPartitions: Int = 32): Unit = {
    IndexBuild.clearDirs(pos.sparkSession, clearPaths(dir))
    commit(pos, dir, width, numPartitions, Set.empty)
  }

  /** Full disk build with kill-and-resume, mirroring
    * [[IndexBuild.writeIndex]]: with resume=true, part_ids already in the
    * manifest are dropped BETWEEN the map-side partials and the shuffle,
    * and dynamic partition overwrite replaces only rebuilt part_ids. */
  def writeBuild(spark: SparkSession, docs: DataFrame, posDir: String,
                 width: Long, numPartitions: Int = 32,
                 resume: Boolean = false,
                 flushEntries: Int = 2000000): Unit = {
    if (!resume) IndexBuild.clearDirs(spark, clearPaths(posDir))
    val done =
      if (resume) IndexBuild.committedParts(spark, manifestDir(posDir), "part_id")
      else Set.empty[Int]
    val partials0 = buildPartials(spark, docs, width, flushEntries)
    val partials =
      if (done.isEmpty) partials0
      else partials0.where(!pmod(col("bucket"), lit(numPartitions))
        .isin(done.toSeq: _*))
    commit(mergeByKey(partials), posDir, width, numPartitions, done)
  }

  /** Reopen a committed sidecar (meta + format gate, explicit schema). */
  def read(spark: SparkSession, dir: String): Dataset[PosRow] = {
    readMeta(spark, dir)
    segments(spark, dir)
  }

  private def segments(spark: SparkSession, dir: String): Dataset[PosRow] = {
    import spark.implicits._
    spark.read.schema(segSchema).parquet(segmentsDir(dir))
      .select($"term", $"bucket", $"n", $"min_doc", $"bytes")
      .as[PosRow]
  }

  /** Merge committed sidecars (disjoint doc sets) of one geometry `meta`,
    * checked equal across inputs by the caller ([[Merge]], before it clears
    * the target), into `outPosDir`.
    * concat=true (disjoint docId INTERVALS, the tier/append case): rows
    * pass through UNION-only — zero decode; every reader already handles
    * several rows per (term, bucket) in min_doc order, so a key holds at
    * most one row per merge input (≤ the tier count under streaming).
    * concat=false (interleaved): per-key decode + resort + re-encode via
    * [[mergeByKey]], the positional analog of the index merge's decoded
    * rebuild. */
  def mergeSidecars(spark: SparkSession, posDirs: Seq[String],
                    outPosDir: String, concat: Boolean, meta: PosMeta): Unit = {
    val all = posDirs.map(segments(spark, _)).reduce(_ union _)
    commit(if (concat) all else mergeByKey(all), outPosDir, meta.width,
      meta.num_partitions, Set.empty)
  }

  /** One bucket's positions for one term, decoded to flat primitive
    * arrays (no per-doc objects — the per-(phrase, doc) inner loops run
    * over these ~120M times per 16M-doc batch): docs/dls parallel by doc
    * index, positions of doc i at pos[offs(i) until offs(i+1)). */
  final class TermPositions(val docs: Array[Long], val dls: Array[Int],
                            val offs: Array[Int], val pos: Array[Int])

  /** Decode a term's bucket rows (sorted by min_doc; doc ranges disjoint)
    * straight into a [[TermPositions]] — bytes → primitives, zero boxing. */
  def decodeFlat(rows: Seq[PosRow]): TermPositions = {
    var total = 0L
    rows.foreach(total += _.n)
    val nDocs = total.toInt
    val docs = new Array[Long](nDocs)
    val dls = new Array[Int](nDocs)
    val offs = new Array[Int](nDocs + 1)
    var posArr = new Array[Int](math.max(1024, nDocs))
    var posN = 0
    var di = 0
    rows.foreach { r =>
      val rd = new Codec.Reader(r.bytes)
      var doc = -1L
      var i = 0L
      while (i < r.n) {
        val g = rd.readVLong()
        doc = if (doc < 0) g else doc + g
        docs(di) = doc
        dls(di) = rd.readVLong().toInt
        val np = rd.readVLong().toInt
        if (posN + np > posArr.length)
          posArr = java.util.Arrays.copyOf(posArr,
            math.max(posArr.length << 1, posN + np))
        offs(di) = posN
        var p = -1
        var j = 0
        while (j < np) {
          val pg = rd.readVLong().toInt
          p = if (p < 0) pg else p + pg
          posArr(posN) = p
          posN += 1
          j += 1
        }
        di += 1
        i += 1
      }
    }
    offs(di) = posN
    new TermPositions(docs, dls, offs, posArr)
  }

  /** Exact phrase hits: (phrase_id, doc_id, tf, dl) for every doc
    * containing the phrase (tf = number of starting positions; overlapping
    * occurrences count — "table table table" contains "table table"
    * twice). One job for the whole phrase batch: each bucket group decodes
    * its term positions ONCE into flat arrays (shared by every phrase
    * using the term — the positional analog of the TAAT scorer's shared
    * contributions), then each phrase runs a primitive two-pointer doc
    * intersection and a merge-walk adjacency chain (starts surviving
    * p+i ∈ positions(term_i) for all i) — no per-doc allocation, no
    * binary searches. */
  def phraseHits(spark: SparkSession, pos: Dataset[PosRow],
                 phrases: Seq[(Int, Seq[String])]): DataFrame = {
    val bc = spark.sparkContext.broadcast(phrases)
    bucketHits(spark, pos, phrases.flatMap(_._2)) { flat =>
      var scratch = new Array[Int](256)
      bc.value.iterator.flatMap { case (pid, terms) =>
        // empty term lists (a phrase that tokenized to nothing) match
        // nothing — and must not reach lists(0) below
        if (terms.isEmpty || !terms.forall(flat.contains)) Iterator.empty
        else {
          val lists = terms.map(flat).toArray
          val nl = lists.length
          val cursors = new Array[Int](nl)
          // drive the doc intersection from the RAREST term's list: the
          // walk visits min-df docs, not term0's df (on Zipf text a
          // phrase with one selective word skips the head term's mass
          // entirely — the standard phrase-query ordering; this synthetic
          // corpus has a 31-term head-only vocabulary, so all drivers
          // tie here, but the shape is what survives real data)
          var m = 0
          var li0 = 1
          while (li0 < nl) {
            if (lists(li0).docs.length < lists(m).docs.length) m = li0
            li0 += 1
          }
          val driver = lists(m)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Int, Long, Long, Long)]
          var i0 = 0
          while (i0 < driver.docs.length) {
            val d = driver.docs(i0)
            cursors(m) = i0
            var ok = true
            var li = 0
            while (ok && li < nl) {
              if (li != m) {
                val l = lists(li)
                var c = cursors(li)
                while (c < l.docs.length && l.docs(c) < d) c += 1
                cursors(li) = c
                ok = c < l.docs.length && l.docs(c) == d
              }
              li += 1
            }
            if (ok) {
              // adjacency chain anchored at term0's slice for this doc
              val l0 = lists(0)
              val c0 = cursors(0)
              val s0 = l0.offs(c0)
              var n = l0.offs(c0 + 1) - s0
              if (scratch.length < n)
                scratch = new Array[Int](Integer.highestOneBit(n) << 1)
              System.arraycopy(l0.pos, s0, scratch, 0, n)
              var li2 = 1
              while (n > 0 && li2 < nl) {
                val l = lists(li2)
                val ci = cursors(li2)
                val le = l.offs(ci + 1)
                var w = 0
                var a = 0
                var b = l.offs(ci)
                while (a < n && b < le) {
                  val want = scratch(a) + li2
                  if (l.pos(b) < want) b += 1
                  else {
                    if (l.pos(b) == want) { scratch(w) = scratch(a); w += 1 }
                    a += 1
                  }
                }
                n = w
                li2 += 1
              }
              if (n > 0) out += ((pid, d, n.toLong, l0.dls(c0).toLong))
            }
            i0 += 1
          }
          out.iterator
        }
      }
    }.toDF("phrase_id", "doc_id", "tf", "dl")
  }

  /** Ordered-proximity hits for term PAIRS: (pair_id, doc_id, tf, dl)
    * where tf counts position pairs (pa, pb) with
    * 1 ≤ pb − pa ≤ slop + 1 — slop 0 is exactly the bigram phrase; the
    * window count is a two-cursor walk over the sorted position arrays
    * (O(|A| + |B|) per doc). Same bucket-local evaluation and shared flat
    * decode as [[phraseHits]]. */
  def proximityHits(spark: SparkSession, pos: Dataset[PosRow],
                    pairs: Seq[(Int, String, String, Int)]): DataFrame = {
    val bc = spark.sparkContext.broadcast(pairs)
    bucketHits(spark, pos, pairs.flatMap(p => Seq(p._2, p._3))) { flat =>
      bc.value.iterator.flatMap { case (pid, t1, t2, slop) =>
        (flat.get(t1), flat.get(t2)) match {
          case (Some(a), Some(b)) =>
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(Int, Long, Long, Long)]
            var ia = 0
            var ib = 0
            while (ia < a.docs.length && ib < b.docs.length) {
              val da = a.docs(ia)
              val db = b.docs(ib)
              if (da < db) ia += 1
              else if (db < da) ib += 1
              else {
                // window pair count: for each pa, #pb in (pa, pa+slop+1]
                val as = a.offs(ia); val ae = a.offs(ia + 1)
                val bs = b.offs(ib); val be = b.offs(ib + 1)
                var tf = 0L
                var lo = bs
                var hi = bs
                var i = as
                while (i < ae) {
                  val pa = a.pos(i)
                  while (lo < be && b.pos(lo) <= pa) lo += 1
                  if (hi < lo) hi = lo
                  while (hi < be && b.pos(hi) <= pa + slop + 1) hi += 1
                  tf += hi - lo
                  i += 1
                }
                if (tf > 0) out += ((pid, da, tf, a.dls(ia).toLong))
                ia += 1
                ib += 1
              }
            }
            out.iterator
          case _ => Iterator.empty
        }
      }
    }.toDF("pair_id", "doc_id", "tf", "dl")
  }

  /** The shared prologue of [[phraseHits]] and [[proximityHits]]: restrict
    * the sidecar to `terms`, group it by bucket, decode each bucket's term
    * rows ONCE into flat arrays (shared by every phrase or pair using the
    * term) and run `hits` over them. Merged inputs may deliver several
    * rows per term: ranges stay disjoint, and the order is restored by
    * min_doc before the flat decode. */
  private def bucketHits(spark: SparkSession, pos: Dataset[PosRow], terms: Seq[String])(
      hits: Map[String, TermPositions] => Iterator[(Int, Long, Long, Long)])
      : Dataset[(Int, Long, Long, Long)] = {
    import spark.implicits._
    pos.where($"term".isin(terms.distinct: _*))
      .groupByKey(_.bucket)
      .flatMapGroups { (_, it) =>
        val rowsByTerm = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.ArrayBuffer[PosRow]]
        it.foreach { r =>
          rowsByTerm.getOrElseUpdate(r.term,
            scala.collection.mutable.ArrayBuffer.empty) += r
        }
        hits(rowsByTerm.iterator.map {
          case (t, rs) => t -> decodeFlat(rs.sortBy(_.min_doc).toSeq)
        }.toMap)
      }
  }

  /** Proximity top-k over [[proximityHits]] — same BM25-as-one-term
    * scoring and frozen order as [[phraseTopK]]. */
  def proximityTopK(spark: SparkSession, pos: Dataset[PosRow],
                    pairs: Seq[(Int, String, String, Int)], k: Int,
                    nDocs: Long, avgdl: Double): DataFrame =
    rankHits(proximityHits(spark, pos, pairs), "pair_id", k, nDocs, avgdl)

  /** Phrase top-k: each phrase scored as one BM25 "term" with
    * tf = occurrence count and df = |{docs: tf > 0}|, ranked under the
    * frozen (score DESC, doc_id ASC) order. The hit set is the phrase's
    * df — small by nature — so the df aggregate + window rank run over a
    * tiny intermediate. */
  def phraseTopK(spark: SparkSession, pos: Dataset[PosRow],
                 phrases: Seq[(Int, Seq[String])], k: Int,
                 nDocs: Long, avgdl: Double): DataFrame =
    rankHits(phraseHits(spark, pos, phrases), "phrase_id", k, nDocs, avgdl)

  /** The shared ranking tail of [[phraseTopK]] and [[proximityTopK]] over
    * (`id`, doc_id, tf, dl) hits: top `k` per id as (`id`, rank, doc_id,
    * score_micro). df comes from a window over the same partition key as
    * the rank window: ONE evaluation of the hits subtree (an agg+join
    * would run the decode + intersection job twice — once per plan
    * branch). */
  private def rankHits(hits: DataFrame, id: String, k: Int, nDocs: Long,
                       avgdl: Double): DataFrame = {
    val byId = Window.partitionBy(col(id))
    hits
      .withColumn("df", count(lit(1)).over(byId))
      .select(col(id), col("doc_id"),
        Bm25.contribMicroCol(nDocs, avgdl, col("df"), col("tf"), col("dl")).as("score_micro"))
      .withColumn("rank", row_number().over(
        byId.orderBy(col("score_micro").desc, col("doc_id").asc)).cast("int"))
      .where(col("rank") <= k)
      .select(col(id), col("rank"), col("doc_id"), col("score_micro"))
      .orderBy(col(id), col("rank"))
  }
}

/** Frozen phrase batch (sibling of [[QuerySet]]): common bigrams, a rare
  * repeated-word bigram, a trigram with repeats, and absent-term phrases
  * (must match nothing). Literals frozen so the Spark side and the DuckDB
  * chain-join mirror are provably the same batch. */
object PhraseSet {
  val K = 10

  val phrases: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("table", "hash"),
    2 -> Seq("merge", "group"),
    3 -> Seq("dup", "dup"),              // self-adjacency
    4 -> Seq("table", "table", "table"), // trigram, overlapping starts
    5 -> Seq("slow", "key"),
    6 -> Seq("plan", "cache"),           // 'plan' absent from corpus
    7 -> Seq("customer", "join"),
    8 -> Seq("the", "window")
  )

  /** Ordered-proximity pairs (id, first, second, slop): slop 0 ≡ the
    * bigram phrase; larger slops widen the window; absent terms → empty. */
  val proximityPairs: Seq[(Int, String, String, Int)] = Seq(
    (1, "table", "hash", 0),   // must equal the phrase semantics
    (2, "table", "hash", 3),
    (3, "dup", "customer", 5),
    (4, "the", "window", 2),
    (5, "dup", "dup", 4),      // self-pairs within a window
    (6, "plan", "cache", 4)    // 'plan' absent from corpus
  )
}
