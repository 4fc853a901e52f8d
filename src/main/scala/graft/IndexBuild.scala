package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.collection.mutable.ArrayBuffer

/** Inverted-index build — the graft of the reference's `Populate`/
  * `InsertIvf` (`src/index_ivf.cpp:72-156`, SURVEY.md §2.4 A1/A2) as one
  * Catalyst-planned pipeline:
  *
  *   tf rows → (broadcast head-term join) salt → repartition(P, part_id)
  *          → sortWithinPartitions(term, bucket, doc_id)
  *          → mapPartitions: cut+compress posting blocks → segments
  *
  * The reference's per-list mutex dance (`index_ivf.cpp:85-93`) IS the
  * shuffle; Spark plans it. Head-term skew (north rule): terms with
  * df > headDf are salted into docId-range buckets of `bucketWidth` docs,
  * so no single reducer ever owns more than `bucketWidth` postings of a
  * head term — the partition histogram stays flat at any corpus size.
  * Rare terms keep bucket 0 ⇒ exact single-partition pruning at query
  * time. part_id = pmod(xxhash64(term, bucket), P).
  *
  * On-disk layout (Iceberg-style: partitioned parquet + manifest tables,
  * SURVEY.md §7.3 — no Iceberg jar in the sandbox):
  *   dir/stats/terms   (term, df, cf, max_bucket)
  *   dir/stats/meta    corpus scalars + frozen build config
  *   dir/segments/part_id=N/   PostingRow parquet (term-sorted in-file)
  *   dir/manifest      (part_id, n_lists, n_postings)  — resume lineage
  *   dir/metrics       build metrics (docs/sec, counts)
  */
object IndexBuild {

  /** @param docPartitioned false → TERM-partitioned layout (north-rule
    *   build/merge/storage layout: part_id = hash(term, bucket) % P, only
    *   head terms bucketed — exact single-partition pruning for rare
    *   terms). true → DOC-partitioned SERVING layout (part_id = bucket %
    *   P, EVERY term bucketed by docId range): each partition holds all
    *   terms of its doc range, so one batched query job evaluates every
    *   query per partition with ZERO posting duplication and merges
    *   per-partition heaps — the treeReduce shape of the north star. The
    *   same duality as the reference's offline per-cluster files vs
    *   LoadFromBook serving selection. */
  /** @param headSampleInv head-term detection sampling: the salting
    *   decision (df > headDf) is estimated from the deterministic doc
    *   sample `doc_id % headSampleInv == 0` (1 = exact full pass). The
    *   head set only shapes the LAYOUT — query results, resume and merge
    *   determinism are unaffected — so at web scale a 1-3% sample replaces
    *   a full tokenize pass (the reference's own precedent: Train() fits
    *   the routing model on an nsamples subset, `src/index_ivf.cpp:43-62`).
    */
  /** @param flushEntries map-side posting-buffer flush threshold (see
    *   [[PartialAcc.maybeFlush]]): the task's LIVE young-generation set is
    *   ~16 B × this, and at high core counts that live set is what every
    *   young GC copies — with N tasks pinned, each pause idles all N
    *   cores, so the threshold trades GC pause wall (smaller = less live
    *   data per collection) against partial-row count (smaller = more
    *   runs per (term, bucket) through the shuffle + merge). */
  /** @param codec posting-block codec ([[Codec.VByteId]] |
    *   [[Codec.PForId]]). Blocks are self-describing, so the choice is a
    *   build-time storage knob, not a format version: readers dispatch per
    *   block and mixed-codec indexes concat-merge unchanged. */
  final case class Config(
      numPartitions: Int = 32,
      bucketWidth: Long = 128,
      headDf: Long = 300,
      blockSize: Int = Codec.BlockSize,
      docPartitioned: Boolean = false,
      headSampleInv: Int = 1,
      flushEntries: Long = 4L * 1000 * 1000,
      codec: Int = Codec.VByteId)

  /** Meta row persisted with the index: corpus scalars + the build config
    * (query-time pruning must use the SAME hash geometry). min/max doc_id
    * bound the index's docId interval — [[Merge.concatMergeIndexes]]
    * validates interval disjointness driver-side from these before
    * writing anything. */
  final case class Meta(
      n_docs: Long, n_tokens: Long, max_doc_id: Long, min_doc_id: Long,
      num_partitions: Int, bucket_width: Long, head_df: Long, block_size: Int,
      doc_partitioned: Boolean,
      // posting-block codec the BUILD wrote (blocks are self-describing —
      // every decode dispatches on the per-block id — but the re-encoding
      // merge path needs to know what to emit: without this, merging two
      // PFor indexes silently re-encoded the union as VByte). Absent in
      // pre-round-5 metas → VByte, which is what those builds wrote.
      codec: Int = Codec.VByteId)


  /** part_id of a (term, bucket) row of a term-partitioned index: the
    * Catalyst `pmod(xxhash64(term, bucket), P)` computed in Scala,
    * bit-exact (EngineSpec). The build places rows with it and partition
    * pruning ([[QueryEngine.candidatePartIds]]) routes with it. */
  def partIdOf(term: String, bucket: Int, numPartitions: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.{IntegerType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val h1 = XxHash64Function.hash(UTF8String.fromString(term), StringType, 42L)
    val h2 = XxHash64Function.hash(bucket, IntegerType, h1)
    val p = numPartitions
    (((h2 % p) + p) % p).toInt
  }

  /** MAP-SIDE posting-list combine (the Lucene-segment pattern): each
    * input task accumulates its slice of the inverted index in memory and
    * emits PARTIAL compressed posting rows per (term, bucket). The shuffle
    * then moves O(vocab·buckets·tasks) compact block rows instead of one
    * row PER POSTING (at bench scale: ~29M tf rows → ~0.5M partial rows)
    * — the analog of the reference's per-thread list building under locks
    * (`src/index_ivf.cpp:85-93`), with the lock replaced by the
    * reduce-side run merge. Task memory is bounded by its input split.
    *
    * `tf` = (doc_id, term, tf, dl) rows, already task-local (no shuffle:
    * [[Stats.tfRows]] computes them per doc row; [[Merge]] feeds decoded
    * segment postings). `headTerms` is the Zipf head (df > headDf) — tiny
    * at any corpus size, broadcast. */
  def partialPostings(spark: SparkSession, tf: DataFrame,
                      headTerms: Set[String], cfg: Config): Dataset[PostingRow] = {
    import spark.implicits._
    val headsBc = spark.sparkContext.broadcast(headTerms)
    val cfgV = cfg
    tf.select($"doc_id", $"term", $"tf", $"dl").as[(Long, String, Long, Long)]
      .mapPartitions { it =>
        val acc = new PartialAcc(headsBc.value, cfgV)
        it.foreach { case (d, t, tfv, dlv) =>
          acc.add(t, d, tfv.toInt, dlv.toInt); acc.maybeFlush()
        }
        acc.finish()
      }
  }

  /** FUSED map pass: (doc_id, text) → tokenize → per-doc tf → posting
    * accumulator, all inside ONE task with no intermediate row encoding.
    * The tf-row variant above materializes one Tuple4 + String per
    * (doc, term) pair across the Encoder boundary (~29M objects at bench
    * scale); this reads each DOCUMENT's raw text once and tokenizes
    * in-task with the [[Tokenize]] kernel pair ([[Tokenize.scanDocInto]]),
    * spec-pinned bit-equal to the Catalyst tokenizer (EngineSpec "fused ==
    * tf-row" compares against the Catalyst-tokenized pipeline on the
    * driver corpus and on a mixed ASCII/multibyte one; the DuckDB oracle
    * is a third independent check). */
  def partialPostingsFromDocs(spark: SparkSession, docs: DataFrame,
                              headTerms: Set[String], cfg: Config): Dataset[PostingRow] = {
    import spark.implicits._
    val headsBc = spark.sparkContext.broadcast(headTerms)
    val cfgV = cfg
    // One append per OCCURRENCE (tf=1); equal-doc runs are summed at
    // emit.
    //
    // This is the repo's one deliberate drop below the typed Dataset
    // API in a hot path (`queryExecution.toRdd`): the Encoder boundary
    // of `.as[(Long, String)].mapPartitions` decodes one java String
    // (~1 KB) plus one Tuple2 PER DOCUMENT — ~16 GB + 16M boxes per
    // 16M-doc build — and the resulting GC pauses idle the whole pin,
    // the measured dominant 4→16-core build-scaling loss (map-stage GC
    // task-time 4.2 s at c4 vs 30.6 s at c16). Pure-ASCII documents
    // now tokenize straight off the UnsafeRow's UTF8String bytes with
    // zero per-doc allocation; any high bit falls back to the String
    // kernel. The declarative plan (scan → column-pruned project) is
    // unchanged — toRdd executes exactly the optimized plan Catalyst
    // produced.
    // cast: toRdd reads the raw slot with getLong — unlike the Encoder
    // boundary it replaced, it would zero-extend (corrupt) a narrower
    // doc_id column instead of upcasting it. A no-op on LongType input.
    val pruned = docs.select($"doc_id".cast("long").as("doc_id"), $"text")
    val partials = pruned.queryExecution.toRdd.mapPartitions { it =>
      val acc = new PartialAcc(headsBc.value, cfgV)
      val ranges = new Tokenize.TokenRanges()
      // InternalRows are reused by the scan — every value is consumed
      // within the iteration (term Strings are materialized copies).
      it.foreach { row =>
        if (!row.isNullAt(1)) {
          require(!row.isNullAt(0), "null doc_id") // getLong on null reads 0 silently
          val d = row.getLong(0)
          val u = row.getUTF8String(1)
          val lower = Tokenize.scanDocInto(u, ranges)
          val dl = ranges.n
          var i = 0
          while (i < dl) {
            val s = ranges.starts(i); val e = ranges.ends(i); val h = ranges.hashes(i)
            if (lower == null) acc.addOccurrenceUtf8(u, s, e, h, d, dl)
            else acc.addOccurrence(lower, s, e, h, d, dl)
            i += 1
          }
          acc.maybeFlush()
        }
      }
      acc.finish()
    }
    spark.createDataset(partials)
  }

  /** Default flush threshold for [[PartialAcc]]: total buffered postings
    * per task before an early emit ([[Config.flushEntries]]). Bounds task
    * live memory at ~16 B × this (plus the emitted compressed rows)
    * REGARDLESS of partition size — the property that lets one map task
    * tokenize an arbitrarily large input split at web scale. Each flush
    * starts new partial runs for the same (term, bucket) keys;
    * [[mergePartials]] already merges k runs. */
  val FlushEntries: Long = 4L * 1000 * 1000

  /** Map-side posting accumulator: per-term growable PRIMITIVE column
    * buffers (doc, tf, dl) — no per-posting objects. The round-3 shape
    * (HashMap[(term,bucket), ArrayBuffer[(Long,Int,Int)]]) allocated one
    * boxed tuple per posting and promoted whole ArrayBuffers to the old
    * generation; at 8M docs the build's map stage spent 58% of executor
    * time in GC (run=425s cpu=170s gc=245s). Bucketing happens at EMIT
    * (bucket = doc/width is derivable), so append is three array writes
    * and one string-keyed map lookup. */
  private[graft] final class PartialAcc(heads: Set[String], cfg: Config) {
    private val acc = new TermMap()
    private val out = new ArrayBuffer[PostingRow]()
    private val sink = new Codec.ByteSink()
    private var entries = 0L

    def add(t: String, d: Long, tf: Int, dl: Int): Unit = {
      acc.lookup(t, 0, t.length, t.hashCode).add(d, tf, dl)
      entries += 1
    }

    /** Occurrence append straight from a token's char range — the term
      * String is allocated only the FIRST time this task sees it
      * (interned inside [[TermMap]]); every later occurrence is a probe +
      * three primitive array writes. */
    def addOccurrence(lower: String, start: Int, end: Int, hash: Int,
                      d: Long, dl: Int): Unit = {
      acc.lookup(lower, start, end, hash).add(d, 1, dl)
      entries += 1
    }

    /** [[addOccurrence]] for the Encoder-free UTF8String byte path. */
    def addOccurrenceUtf8(u: org.apache.spark.unsafe.types.UTF8String,
                          start: Int, end: Int, hash: Int,
                          d: Long, dl: Int): Unit = {
      acc.lookupUtf8(u, start, end, hash).add(d, 1, dl)
      entries += 1
    }

    /** Flush checkpoint — call only at a COMPLETE-unit boundary (after a
      * whole document in the occurrence path; after a row in the tf-row
      * path). Flushing mid-document would split one doc's occurrences
      * across partial runs, and the reduce merge concatenates runs
      * without re-summing equal docs. */
    def maybeFlush(): Unit = if (entries >= cfg.flushEntries) flush()

    private def flush(): Unit = {
      acc.foreachEntry((t, buf) => emitBuf(t, buf, heads, cfg, out, sink))
      acc.clear()
      entries = 0
    }

    def finish(): Iterator[PostingRow] = { flush(); out.iterator }
  }

  /** Does the interned key equal the lowered-ASCII byte region starting at
    * `start` of `u`? Shared probe predicate of [[TermMap]] and [[DfMap]]. */
  @inline private def regionEqUtf8(
      k: String, u: org.apache.spark.unsafe.types.UTF8String,
      start: Int): Boolean = {
    var j = 0
    while (j < k.length) {
      val b = u.getByte(start + j)
      val c = (if (b >= 'A' && b <= 'Z') b + 32 else b.toInt).toChar
      if (k.charAt(j) != c) return false
      j += 1
    }
    true
  }

  /** Open-addressed term → [[PostingBuf]] map with REGION lookup: probes
    * with a (string, start, end, hash) view so the hot path never
    * allocates a key String for a term it has already seen. `hash` must
    * equal `lower.substring(start, end).hashCode` (both [[Tokenize]]
    * kernels record exactly that in [[Tokenize.TokenRanges]]). Linear
    * probing, power-of-two capacity, load factor 0.75. */
  private[graft] final class TermMap {
    private var cap = 1 << 10
    private var mask = cap - 1
    private var keys = new Array[String](cap)
    private var vals = new Array[PostingBuf](cap)
    private var used = 0

    def lookup(s: String, start: Int, end: Int, hash: Int): PostingBuf = {
      var i = hash & mask
      while (true) {
        val k = keys(i)
        if (k == null) {
          val t = s.substring(start, end)
          val buf = new PostingBuf()
          keys(i) = t; vals(i) = buf; used += 1
          if (used * 4 > cap * 3) rehash()
          return buf
        } else if (k.length == end - start && s.startsWith(k, start)) {
          return vals(i)
        }
        i = (i + 1) & mask
      }
      null // unreachable
    }

    /** [[lookup]] over a lowered-ASCII byte region of an UnsafeRow-backed
      * UTF8String (the Encoder-free build path): same probe sequence —
      * `hash` must equal the lowered token String's hashCode — and the
      * key String is materialized only on first sight. */
    def lookupUtf8(u: org.apache.spark.unsafe.types.UTF8String,
                   start: Int, end: Int, hash: Int): PostingBuf = {
      var i = hash & mask
      while (true) {
        val k = keys(i)
        if (k == null) {
          val t = Tokenize.lowerAsciiToken(u, start, end)
          val buf = new PostingBuf()
          keys(i) = t; vals(i) = buf; used += 1
          if (used * 4 > cap * 3) rehash()
          return buf
        } else if (k.length == end - start && regionEqUtf8(k, u, start)) {
          return vals(i)
        }
        i = (i + 1) & mask
      }
      null // unreachable
    }

    private def rehash(): Unit = {
      val ok = keys; val ov = vals
      cap <<= 1; mask = cap - 1
      keys = new Array[String](cap)
      vals = new Array[PostingBuf](cap)
      var j = 0
      while (j < ok.length) {
        val k = ok(j)
        if (k != null) {
          var i = k.hashCode & mask
          while (keys(i) != null) i = (i + 1) & mask
          keys(i) = k; vals(i) = ov(j)
        }
        j += 1
      }
    }

    def foreachEntry(f: (String, PostingBuf) => Unit): Unit = {
      var i = 0
      while (i < cap) {
        if (keys(i) != null) f(keys(i), vals(i))
        i += 1
      }
    }

    def clear(): Unit = {
      java.util.Arrays.fill(keys.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(vals.asInstanceOf[Array[AnyRef]], null)
      used = 0
    }
  }

  /** Emit one term's buffered postings as PostingRows: sort by doc if the
    * input order wasn't monotonic (a no-op for sequential corpus scans),
    * sum tf over equal-doc runs (occurrence-level appends; equal docs have
    * equal dl by construction, and index merges require disjoint doc sets,
    * so summing never crosses documents), then cut rows at bucket
    * boundaries. */
  private def emitBuf(t: String, buf: PostingBuf, heads: Set[String],
                      cfg: Config, out: ArrayBuffer[PostingRow],
                      sink: Codec.ByteSink): Unit = {
    if (buf.n == 0) return
    buf.sortIfNeeded()
    val m = buf.mergeEqualDocs()
    val bucketed = cfg.docPartitioned || heads.contains(t)
    val width = cfg.bucketWidth
    var i = 0
    while (i < m) {
      val b = if (bucketed) (buf.docs(i) / width).toInt else 0
      var j = i + 1
      if (bucketed) {
        while (j < m && (buf.docs(j) / width).toInt == b) j += 1
      } else j = m
      var cf = 0L
      var k = i
      while (k < j) { cf += buf.tfs(k); k += 1 }
      val partId = if (cfg.docPartitioned) b % cfg.numPartitions
                   else partIdOf(t, b, cfg.numPartitions)
      // encode straight out of the buffer range — the copyOfRange triple
      // this replaces copied every posting's 16 B twice more (once here,
      // once in encodeBlocks' per-block slices): ~4 GB of young-gen
      // garbage per 8M-doc build whose collection pauses idled all cores
      out += PostingRow(partId, t, b, (j - i).toLong, cf, buf.docs(i),
        Codec.encodeBlocksRange(buf.docs, buf.tfs, buf.dls, i, j,
          cfg.blockSize, sink, cfg.codec))
      i = j
    }
  }

  /** Growable struct-of-arrays posting buffer (doc, tf, dl) with an
    * append-order monotonicity check and an in-place 3-way quicksort by
    * doc (fat-pivot: occurrence appends produce long equal-doc runs).
    * Equal-doc ORDER is irrelevant: tf summing is commutative and dl is a
    * per-doc constant, so sort-by-doc-alone is output-deterministic. */
  private[graft] final class PostingBuf {
    var docs = new Array[Long](16)
    var tfs = new Array[Int](16)
    var dls = new Array[Int](16)
    var n = 0
    private var lastDoc = Long.MinValue
    private var needSort = false

    def add(d: Long, tf: Int, dl: Int): Unit = {
      // Fold an occurrence of the CURRENT doc into its existing entry
      // (occurrence appends arrive doc-contiguous; avg tf ≈ 2 halves the
      // appends and leaves mergeEqualDocs nothing to do on sorted input):
      // tf summing commutes and dl is a per-doc constant, so the final
      // rows are identical to append-then-merge.
      if (n > 0 && d == docs(n - 1)) { tfs(n - 1) += tf; return }
      if (n == docs.length) grow(n + 1)
      docs(n) = d; tfs(n) = tf; dls(n) = dl; n += 1
      if (d < lastDoc) needSort = true else lastDoc = d
    }

    private def grow(min: Int): Unit = {
      var c = docs.length << 1
      while (c < min) c <<= 1
      docs = java.util.Arrays.copyOf(docs, c)
      tfs = java.util.Arrays.copyOf(tfs, c)
      dls = java.util.Arrays.copyOf(dls, c)
    }

    /** Decode a compressed block DIRECTLY into the buffer — the merge
      * path's replacement for decodeBlock-then-bulkAdd, which allocated
      * three intermediate arrays per block (the reduce stage's dominant
      * garbage). Monotonicity tracking matches [[add]]. */
    def addBlock(b: Block): Unit = {
      if (n + b.n > docs.length) grow(n + b.n)
      // decodeBlockInto owns the wire format for EVERY codec (a second
      // hand-inlined VByte loop here would have to track any layout
      // change); one scan then maintains the monotonicity flag
      Codec.decodeBlockInto(b, docs, tfs, dls, n)
      var i = 0
      while (i < b.n) {
        val d = docs(n + i)
        if (d < lastDoc) needSort = true else lastDoc = d
        i += 1
      }
      n += b.n
    }

    def sortIfNeeded(): Unit = if (needSort) { qsort(0, n - 1); needSort = false }

    /** Collapse equal-doc runs in place: tf ← Σ tf, dl kept (equal by
      * construction). Returns the merged length. */
    def mergeEqualDocs(): Int = {
      // Detect-only fast path: with add() folding same-doc occurrences,
      // sorted buffers normally have no adjacent dups — skip the
      // load+store copy pass entirely (prior entries are already in
      // place; the merge below starts at the first dup if any).
      var f = 1
      while (f < n && docs(f) != docs(f - 1)) f += 1
      if (f >= n) return n
      var w = f - 1
      var i = f - 1
      while (i < n) {
        val d = docs(i)
        var tf = tfs(i)
        val dl = dls(i)
        i += 1
        while (i < n && docs(i) == d) { tf += tfs(i); i += 1 }
        docs(w) = d; tfs(w) = tf; dls(w) = dl; w += 1
      }
      w
    }

    private def swap(i: Int, j: Int): Unit = {
      val d = docs(i); docs(i) = docs(j); docs(j) = d
      val t = tfs(i); tfs(i) = tfs(j); tfs(j) = t
      val l = dls(i); dls(i) = dls(j); dls(j) = l
    }

    private def qsort(lo0: Int, hi0: Int): Unit = {
      var lo = lo0
      var hi = hi0
      while (hi - lo > 16) {
        // median-of-three pivot
        val mid = lo + ((hi - lo) >>> 1)
        if (docs(mid) < docs(lo)) swap(lo, mid)
        if (docs(hi) < docs(lo)) swap(lo, hi)
        if (docs(hi) < docs(mid)) swap(mid, hi)
        val pivot = docs(mid)
        // 3-way (Dutch-flag) partition on doc
        var lt = lo; var i = lo; var gt = hi
        while (i <= gt) {
          val d = docs(i)
          if (d < pivot) { swap(lt, i); lt += 1; i += 1 }
          else if (d > pivot) { swap(i, gt); gt -= 1 }
          else i += 1
        }
        // recurse into the smaller side, loop on the larger
        if (lt - lo < hi - gt) { qsort(lo, lt - 1); lo = gt + 1 }
        else { qsort(gt + 1, hi); hi = lt - 1 }
      }
      // insertion sort for small ranges
      var i = lo + 1
      while (i <= hi) {
        val d = docs(i); val t = tfs(i); val l = dls(i)
        var j = i - 1
        while (j >= lo && docs(j) > d) {
          docs(j + 1) = docs(j); tfs(j + 1) = tfs(j); dls(j + 1) = dls(j)
          j -= 1
        }
        docs(j + 1) = d; tfs(j + 1) = t; dls(j + 1) = l
        i += 1
      }
    }
  }

  /** Reduce-side merge of partial posting rows (clustered by
    * (term, bucket)): k sorted runs → one sorted list → final blocks.
    * Output is bit-identical to a single-pass build (encodeBlocks over
    * the full sorted postings). */
  def mergePartials(rows: Iterator[PostingRow], blockSize: Int,
                    codec: Int = Codec.VByteId): Iterator[PostingRow] =
    new Iterator[PostingRow] {
      private val it = rows.buffered
      private val sink = new Codec.ByteSink()
      def hasNext: Boolean = it.hasNext
      def next(): PostingRow = {
        val head = it.next()
        // SINGLETON pass-through: with contiguous doc_id input splits most
        // (term, bucket) keys receive exactly ONE partial run, and a
        // single run re-encoded is byte-identical to itself (its blocks
        // were cut by the same encodeBlocksRange from the run's start) —
        // so the decode + sort + re-encode below would be a no-op that
        // still pays ~all of the reduce stage's CPU (measured 24 s of
        // task time per 16M-doc build at bench shape, guide §1.2: don't
        // compute things you throw away).
        if (!(it.hasNext && it.head.term == head.term && it.head.bucket == head.bucket))
          return head
        val buf = new PostingBuf()
        var cf = head.cf
        head.blocks.foreach(buf.addBlock)
        while (it.hasNext && it.head.term == head.term && it.head.bucket == head.bucket) {
          val row = it.next()
          cf += row.cf
          // runs arrive ordered by min_doc and cover disjoint doc ranges
          // when the map side scanned docs sequentially — addBlock detects
          // monotonic concatenation and the sort below becomes a no-op
          row.blocks.foreach(buf.addBlock)
        }
        buf.sortIfNeeded()
        // decode-into + range-encode: zero intermediate copies of the
        // posting mass (was: decode triple + bulkAdd + copyOf triple)
        PostingRow(head.part_id, head.term, head.bucket, buf.n.toLong, cf,
          buf.docs(0),
          Codec.encodeBlocksRange(buf.docs, buf.tfs, buf.dls, 0, buf.n,
            blockSize, sink, codec))
      }
    }

  /** Shuffle + reduce-side run merge over partial posting rows. */
  def shuffleMerge(partials: Dataset[PostingRow], cfg: Config): Dataset[PostingRow] = {
    import partials.sparkSession.implicits._
    partials
      .repartition(cfg.numPartitions, $"part_id")
      .sortWithinPartitions($"term", $"bucket", $"min_doc")
      .mapPartitions(it => mergePartials(it, cfg.blockSize, cfg.codec))
  }

  /** The partial→shuffle→merge posting pipeline from tf rows (merge path;
    * the build path uses the fused [[partialPostingsFromDocs]]). */
  def postingsPipeline(spark: SparkSession, tf: DataFrame, headTerms: Set[String],
                       cfg: Config): Dataset[PostingRow] =
    shuffleMerge(partialPostings(spark, tf, headTerms, cfg), cfg)

  /** The stats/terms aggregation — df = Σ n, cf = Σ cf, max_bucket = the
    * salting the build actually applied. ONE definition shared by
    * writeIndex and both merges: query routing's max_bucket contract
    * must never diverge between built and merged indexes. */
  def termStatsFromPostings(postings: DataFrame): DataFrame =
    postings.groupBy(col("term"))
      .agg(sum(col("n")).as("df"), sum(col("cf")).as("cf"),
        max(col("bucket")).cast("int").as("max_bucket"))

  /** stats/terms schema — explicit for the same fileless-dir reason as
    * [[segmentSchema]] (an empty build writes an empty stats table). */
  val termStatsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("term", StringType), StructField("df", LongType),
      StructField("cf", LongType), StructField("max_bucket", IntegerType)))
  }

  def readTermStats(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(termStatsSchema).parquet(s"$dir/stats/terms")

  /** Head-term set for salting decisions (driver-side; Zipf-tiny). */
  def headTerms(spark: SparkSession, termStats: DataFrame, cfg: Config): Set[String] = {
    import spark.implicits._
    if (cfg.docPartitioned) Set.empty
    else termStats.where($"df" > cfg.headDf).select($"term").as[String].collect().toSet
  }

  /** Open-addressed term → (df, last_doc) counter for the sampled head
    * pass — the same region-probe discipline as [[TermMap]] (the key
    * String is materialized only on first sight), with DOC-distinct
    * counting via last-doc marking: df counts sampled documents
    * CONTAINING the term, matching the `array_distinct` semantics of the
    * Catalyst mirror this replaced (parity spec-asserted at inv=1 against
    * [[headTerms]] over full Catalyst-tokenized term stats).
    *
    * Precondition (the index's own contract): doc_id is UNIQUE. Last-doc
    * marking assumes a term's occurrences of one doc arrive contiguously;
    * a corpus with duplicate doc_ids would under-count df vs the mirror —
    * layout-only (salting choice), but such a corpus already corrupts
    * posting lists (two entries for one doc), so it is invalid input. */
  private[graft] final class DfMap {
    private var cap = 1 << 10
    private var mask = cap - 1
    private var keys = new Array[String](cap)
    private var dfs = new Array[Int](cap)
    private var last = new Array[Long](cap)
    private var used = 0

    def bump(s: String, start: Int, end: Int, hash: Int, doc: Long): Unit = {
      var i = hash & mask
      while (true) {
        val k = keys(i)
        if (k == null) {
          keys(i) = s.substring(start, end)
          dfs(i) = 1; last(i) = doc; used += 1
          if (used * 4 > cap * 3) rehash()
          return
        } else if (k.length == end - start && s.startsWith(k, start)) {
          if (last(i) != doc) { dfs(i) += 1; last(i) = doc }
          return
        }
        i = (i + 1) & mask
      }
    }

    def bumpUtf8(u: org.apache.spark.unsafe.types.UTF8String,
                 start: Int, end: Int, hash: Int, doc: Long): Unit = {
      var i = hash & mask
      while (true) {
        val k = keys(i)
        if (k == null) {
          keys(i) = Tokenize.lowerAsciiToken(u, start, end)
          dfs(i) = 1; last(i) = doc; used += 1
          if (used * 4 > cap * 3) rehash()
          return
        } else if (k.length == end - start && regionEqUtf8(k, u, start)) {
          if (last(i) != doc) { dfs(i) += 1; last(i) = doc }
          return
        }
        i = (i + 1) & mask
      }
    }

    private def rehash(): Unit = {
      val ok = keys; val od = dfs; val ol = last
      cap <<= 1; mask = cap - 1
      keys = new Array[String](cap)
      dfs = new Array[Int](cap)
      last = new Array[Long](cap)
      var j = 0
      while (j < ok.length) {
        val k = ok(j)
        if (k != null) {
          var i = k.hashCode & mask
          while (keys(i) != null) i = (i + 1) & mask
          keys(i) = k; dfs(i) = od(j); last(i) = ol(j)
        }
        j += 1
      }
    }

    /** (term, df, 0, 0) rows for the partial-df shuffle. */
    def entries: Iterator[(String, Long, Long, Long)] =
      keys.iterator.zipWithIndex.collect {
        case (k, i) if k != null => (k, dfs(i).toLong, 0L, 0L)
      }
  }

  /** Head-term scan on the deterministic doc sample `doc_id % inv == 0`,
    * with the sample pushed INTO the Catalyst plan: `where(doc_id % inv
    * === 0)` evaluates inside whole-stage codegen over the scan/generator,
    * so the 1−1/inv non-sampled rows never cross the RDD boundary at all.
    * The corpus scalars come from a separate columnar agg that
    * [[writeIndex]] overlaps with the main posting pass, which leaves this
    * — 1/inv of the tokenize work — as the build's only serial pre-pass.
    * Each sampled doc tokenizes through the fused pass's kernel pair
    * ([[Tokenize.scanDocInto]]) into a [[DfMap]]. Selection parity with
    * the Catalyst `pmod` mirror: on the selected set (remainder zero)
    * signed rem and pmod agree for any sign of doc_id.
    * Null doc_ids still fail loudly (here on sampled rows; the main fused
    * pass guards every row). */
  def headsSampled(spark: SparkSession, docs: DataFrame, cfg: Config): Set[String] = {
    import spark.implicits._
    val inv = math.max(cfg.headSampleInv, 1)
    // cast: same getLong-vs-Encoder rationale as [[partialPostingsFromDocs]]
    val base = docs.select($"doc_id".cast("long").as("doc_id"), $"text")
    val sampled = if (inv > 1) base.where($"doc_id" % inv === 0) else base
    val partials = sampled.queryExecution.toRdd.mapPartitions { it =>
      val map = new DfMap()
      val ranges = new Tokenize.TokenRanges()
      it.foreach { row =>
        require(!row.isNullAt(0), "null doc_id") // getLong on null reads 0 silently
        val d = row.getLong(0)
        if (!row.isNullAt(1)) {
          val u = row.getUTF8String(1)
          val lower = Tokenize.scanDocInto(u, ranges)
          var i = 0
          while (i < ranges.n) {
            val s = ranges.starts(i); val e = ranges.ends(i); val h = ranges.hashes(i)
            if (lower == null) map.bumpUtf8(u, s, e, h, d)
            else map.bump(lower, s, e, h, d)
            i += 1
          }
        }
      }
      map.entries
    }
    spark.createDataset(partials)
      .toDF("term", "df", "maxd", "mind")
      .groupBy($"term").agg(sum($"df").as("df"))
      .where($"df" * inv > cfg.headDf)
      .select($"term").as[String].collect().toSet
  }

  /** Head-term set straight from the corpus, on the deterministic doc
    * sample `doc_id % headSampleInv == 0` (inv=1 ⇒ exact: identical set to
    * [[headTerms]] over full term stats — spec-asserted). */
  def sampledHeadTerms(spark: SparkSession, docs: DataFrame, cfg: Config): Set[String] =
    if (cfg.docPartitioned) Set.empty
    else headsSampled(spark, docs, cfg)

  /** In-memory build: postings Dataset + stats (no disk IO) — used by the
    * Verify contract and algorithm tests; the disk path below adds only
    * IO + manifest around this same plan. */
  def buildPostings(spark: SparkSession, docs: DataFrame, cfg: Config = Config())
      : (Dataset[PostingRow], DataFrame, CorpusStats) = {
    val cs = Stats.corpus(docs)
    val ts = Stats.termStats(Stats.tfRows(docs))
    val postings = shuffleMerge(
      partialPostingsFromDocs(spark, docs, sampledHeadTerms(spark, docs, cfg), cfg), cfg)
    (postings, ts, cs)
  }

  // ---- Disk layout ----------------------------------------------------
  def segmentsDir(dir: String) = s"$dir/segments"
  def manifestDir(dir: String) = s"$dir/manifest"
  def metricsDir(dir: String)  = s"$dir/metrics"

  // ---- The one index-dir commit path ------------------------------------
  // Every partitioned on-disk artifact commits here: the index (writeIndex,
  // deriveDocPartitioned, both Merges, StreamIngest.compact), the positions
  // sidecar (Positional.write/writeBuild/mergeSidecars) and both ANN
  // indexes (AnnIndex.write, AnnIndexPq.write), in one order:
  //
  //   validate inputs → clearDirs (resume: committedParts instead)
  //   → commitParts (data, manifest gap rows) → sidecars → meta LAST
  //
  // Every reader refuses a dir without meta, so a writer killed at any
  // step leaves a dir that fails to open, never one that opens and serves
  // a mixture of old and new content.

  private def hadoopPath(spark: SparkSession, p: String) = {
    val hp = new org.apache.hadoop.fs.Path(p)
    (hp, hp.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  private[graft] def exists(spark: SparkSession, path: String): Boolean = {
    val (p, fs) = hadoopPath(spark, path)
    fs.exists(p)
  }

  /** A parquet artifact is COMMITTED once its _SUCCESS marker exists: a
    * kill mid-write leaves the dir present without it. */
  private[graft] def committed(spark: SparkSession, path: String): Boolean =
    exists(spark, s"$path/_SUCCESS")

  /** The one ordered clear: delete `paths` in order, each one's _SUCCESS
    * marker first. A recursive delete is not atomic (object stores remove
    * key by key), so callers list meta first, then the manifest a resume
    * trusts, then the data: a clear killed at any step leaves a dir that
    * refuses to open, a manifest naming no deleted part, and models that
    * are whole or uncommitted. */
  private[graft] def clearDirs(spark: SparkSession, paths: Seq[String]): Unit =
    paths.flatMap(p => Seq(s"$p/_SUCCESS", p))
      .foreach { p => val (hp, fs) = hadoopPath(spark, p); fs.delete(hp, true) }

  /** Delete an index dir's content so a writer replaces it WHOLE: dynamic
    * partition overwrite replaces only the part_ids present in the new
    * data, so a previous index with another corpus or partition count
    * would otherwise leave stale segment partitions the fresh stats/meta
    * know nothing about (silent over-serving). Sidecars go too: they were
    * bucketed with the OLD corpus and geometry — left behind, openIndex
    * would fold stale filter lists into the new index (wrong filtered
    * candidates, or out-of-range mask offsets if bucket_width changed),
    * and a stale positions sidecar would answer phrase queries about the
    * old corpus. `metrics/` stays: it is append-only build history. */
  private[graft] def clearIndexDir(spark: SparkSession, dir: String): Unit =
    clearDirs(spark, Seq(s"$dir/stats/meta") ++ Attrs.clearPaths(dir) ++
      Positional.clearPaths(Positional.positionsDir(dir)) ++
      Seq(manifestDir(dir), segmentsDir(dir), s"$dir/stats"))

  /** A writer must not clear one of its own inputs: compares fully
    * qualified Hadoop paths, so `dir`, `dir/` and `file:dir` all match. */
  private[graft] def requireNotInput(spark: SparkSession, inputs: Seq[String], outDir: String): Unit = {
    def q(d: String) = { val (hp, fs) = hadoopPath(spark, d); fs.makeQualified(hp) }
    require(!inputs.map(q).contains(q(outDir)),
      s"output dir $outDir is one of the inputs $inputs — writing it would " +
        "clear the input first")
  }

  /** The one resume read: the part keys committed to `manifestDir`.
    * [[committed]]-gated: a first manifest append killed mid-write leaves
    * a fileless dir, and schema inference on it would wedge every resume. */
  private[graft] def committedParts(spark: SparkSession, manifestDir: String,
                                    key: String): Set[Int] =
    if (!committed(spark, manifestDir)) Set.empty
    else spark.read.parquet(manifestDir).select(col(key).cast("int"))
      .collect().map(_.getInt(0)).toSet

  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  /** Phase timer: one stderr line per phase under `SPARK_GRAFT_LOG`. */
  private def phase[T](name: String)(body: => T): T = {
    val t = System.nanoTime(); val g = gcMs
    val r = body
    if (sys.env.contains("SPARK_GRAFT_LOG"))
      System.err.println(f"[build-phase] $name ${(System.nanoTime() - t) / 1e9}%.2fs gc=${gcMs - g}ms")
    r
  }

  /** The one partition write: write `rows` under `dataDir` partitioned by
    * the int column `key`, append manifest rows (key ++ `manifestAggs`)
    * for the written parts not in `done` (the per-part commit point of a
    * resume), and return every part's row (key ++ `manifestAggs` ++
    * `extraAggs`; extras are returned, not persisted). Dynamic partition
    * overwrite (a per-write option) replaces only the parts in `rows`:
    * a resume keeps its `done` parts and scrubs partial files elsewhere.
    * The aggregates read the written files back with `rows.schema` (a
    * zero-row write leaves a fileless dir schema inference throws on):
    * parquet prunes them to a few small columns, where persist() would
    * materialize every column during the hot write. `alongside` runs on
    * the same read-back concurrently with the manifest job. */
  private[graft] def commitParts(rows: Dataset[_], dataDir: String, manifestDir: String,
                                 key: String, manifestAggs: Seq[Column], done: Set[Int],
                                 extraAggs: Seq[Column] = Nil,
                                 alongside: DataFrame => Unit = _ => ()): Seq[Row] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.jdk.CollectionConverters._
    val spark = rows.sparkSession
    phase(s"write $dataDir") {
      rows.write
        .mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(key)
        .parquet(dataDir)
    }
    val written = spark.read.schema(rows.schema).parquet(dataDir)
    val fSide = Future(alongside(written))
    val all = phase(s"manifest $manifestDir") {
      val aggs = manifestAggs ++ extraAggs
      val agg = written.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
      val all = agg.collect().toSeq
      val kept = 1 + manifestAggs.size
      val fresh = all.filterNot(r => done.contains(r.getInt(0)))
        .map(r => Row.fromSeq(r.toSeq.take(kept)))
      // nothing committed (done empty): files a killed run left are not
      // rows to keep, and appending beside them would list parts twice
      if (fresh.nonEmpty)
        spark.createDataFrame(fresh.asJava, StructType(agg.schema.take(kept)))
          .coalesce(1)
          .write.mode(if (done.isEmpty) SaveMode.Overwrite else SaveMode.Append)
          .parquet(manifestDir)
      all
    }
    Await.result(fSide, Duration.Inf)
    all
  }

  /** The index's segments commit: [[commitParts]] on part_id, with the
    * stats/terms write as its concurrent job. Returns n_tokens = Σ cf over
    * every partition on disk. The caller writes meta LAST.
    *
    * Stats derive from the COMPLETE index on disk (resumed partitions
    * too): df = Σ n, cf = Σ cf per term — exact, no block decode.
    * max_bucket records the ACTUAL salting (max docId bucket per term):
    * query routing prunes from it instead of re-deriving head-ness from
    * df, so a sampled head estimate that disagrees with exact df can never
    * strand postings in unread buckets. */
  private[graft] def commitSegments(spark: SparkSession, postings: Dataset[PostingRow],
                                    dir: String, done: Set[Int] = Set.empty): Long =
    commitParts(postings, segmentsDir(dir), manifestDir(dir), "part_id",
      Seq(count(lit(1)).as("n_lists"), sum(col("n")).as("n_postings")), done,
      extraAggs = Seq(sum(col("cf")).as("cf_sum")),
      alongside = written => phase("stats") {
        termStatsFromPostings(written)
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/stats/terms")
      }).map(_.getLong(3)).sum

  /** Full build to disk: clear → [[commitSegments]] → meta LAST. With
    * resume=true the dir is NOT cleared: partitions already present in
    * the manifest are skipped and only the gap is rebuilt (reference
    * analog: LoadFromBook's idempotent selective load,
    * `src/index_ivfpq.cpp:122-159`). Without resume, a build onto an
    * existing index dir replaces it whole ([[clearIndexDir]]). */
  def writeIndex(spark: SparkSession, docs: DataFrame, dir: String,
                 cfg: Config = Config(), resume: Boolean = false): Meta = {
    import spark.implicits._
    val t0 = System.nanoTime()
    if (!resume) clearIndexDir(spark, dir)
    // ONE full tokenize pass over the corpus (the fused partials job),
    // preceded only by the sampled heads scan (1/inv of the tokenize
    // work, rows filtered in codegen — [[headsSampled]]). The corpus
    // scalars (n_docs, min/max doc_id) are a CONCURRENT columnar agg
    // launched here and awaited only at meta time: nothing before the
    // meta write reads them, so the agg overlaps the main posting pass
    // instead of running as a serial pre-pass (for doc-partitioned
    // builds, which need no heads, there is no serial pre-pass at all).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fScalars = Future {
      phase("scalars (overlapped)")(
        docs.agg(count(lit(1)), max($"doc_id".cast("long")),
          min($"doc_id".cast("long"))).head())
    }
    val heads = phase("heads")(sampledHeadTerms(spark, docs, cfg))

    val done = if (resume) committedParts(spark, manifestDir(dir), "part_id") else Set.empty[Int]

    // resume filter sits BETWEEN the map-side partials and the shuffle, so
    // already-committed partitions are dropped before any shuffle/merge work
    val partials0 = partialPostingsFromDocs(spark, docs, heads, cfg)
    val partials = if (done.isEmpty) partials0
                   else partials0.where(!$"part_id".isin(done.toSeq: _*))
    val nTokens = commitSegments(spark, shuffleMerge(partials, cfg), dir, done)
    // scalars long since done (launched before the main pass); the empty-
    // corpus refusal moves here with them — still strictly before the
    // meta write, so a failed build still cannot open.
    val srow = Await.result(fScalars, Duration.Inf)
    val nDocs = srow.getLong(0)
    require(nDocs > 0, "writeIndex needs a non-empty corpus")
    val maxDocId = srow.getLong(1)
    val minDocId = srow.getLong(2)
    val meta = Meta(nDocs, nTokens, maxDocId, minDocId,
      cfg.numPartitions, cfg.bucketWidth, cfg.headDf, cfg.blockSize,
      cfg.docPartitioned, cfg.codec)
    phase("commit") {
      writeMetaFile(spark, s"$dir/stats/meta", meta)
      val wallSec = (System.nanoTime() - t0) / 1e9
      // Locale.ROOT: the f interpolator honors the JVM default locale —
      // comma-decimal locales would write unparseable JSON
      appendMetricsFile(spark, metricsDir(dir),
        s"""{"n_docs":$nDocs,"n_postings_tokens":$nTokens,""" +
        """"wall_sec":%.3f,"docs_per_sec":%.1f}"""
          .formatLocal(java.util.Locale.ROOT, wallSec, nDocs / wallSec))
    }
    meta
  }

  /** Commit a tiny JSON record (index meta, sidecar markers) atomically:
    * write a pid-tagged temp file, then rename it over the target (the
    * parquet committer's own shape; real Iceberg commits its
    * `metadata.json` the same way). A kill leaves either the old record,
    * no record, or the new one — never a half-written file. Meta/markers
    * are plain FileSystem writes rather than 1-row parquet Spark jobs:
    * each such job cost ~0.15 s of fixed driver time per build. */
  private[graft] def commitJson(spark: SparkSession, path: String, json: String): Unit = {
    val (p, fs) = hadoopPath(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(
      path + ".tmp-" + ProcessHandle.current().pid())
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(p, true)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"JSON commit rename $tmp -> $p failed")
  }

  /** Read a record written by [[commitJson]]. */
  private[graft] def readJson(spark: SparkSession, path: String): com.fasterxml.jackson.databind.JsonNode = {
    val (p, fs) = hadoopPath(spark, path)
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
  }

  /** A flat record of numbers and booleans as one JSON object, fields in
    * declaration order: the form of every meta the commit path writes. */
  private[graft] def recordJson(r: Product): String =
    r.productElementNames.zip(r.productIterator)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  /** Read and `parse` a meta committed by [[commitJson]]; a missing or
    * unreadable one (a writer killed before its meta-last commit, a meta
    * of an older layout) refuses loudly with `why`. */
  private[graft] def readMetaJson[T](spark: SparkSession, path: String, why: String)(
      parse: com.fasterxml.jackson.databind.JsonNode => T): T =
    try parse(readJson(spark, path))
    catch { case e: Exception => throw new IllegalStateException(why, e) }

  def writeMetaFile(spark: SparkSession, path: String, meta: Meta): Unit =
    commitJson(spark, path, recordJson(meta))

  /** One JSON line per build under the metrics dir (observability table;
    * append-only, name-unique per process+timestamp). */
  def appendMetricsFile(spark: SparkSession, dir: String, json: String): Unit = {
    val (p, fs) = hadoopPath(spark,
      s"$dir/build-${ProcessHandle.current().pid()}-${System.nanoTime()}.json")
    val out = fs.create(p, true)
    try out.write((json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def readMeta(spark: SparkSession, dir: String): Meta =
    readMetaJson(spark, s"$dir/stats/meta",
      s"$dir is not a readable index of the current layout (pre-round-2 " +
        "dirs lack min_doc_id/max_bucket; pre-round-4 dirs store meta " +
        "as a parquet dir, not a JSON file; a merge killed before its " +
        "meta-last commit leaves no meta at all) — rebuild with " +
        "IndexBuild.writeIndex or re-run the merge") { n =>
      Meta(n.get("n_docs").asLong, n.get("n_tokens").asLong,
        n.get("max_doc_id").asLong, n.get("min_doc_id").asLong,
        n.get("num_partitions").asInt, n.get("bucket_width").asLong,
        n.get("head_df").asLong, n.get("block_size").asInt,
        n.get("doc_partitioned").asBoolean,
        if (n.has("codec")) n.get("codec").asInt else Codec.VByteId)
    }

  /** Segments-dir schema, supplied EXPLICITLY to every segments read: a
    * build whose corpus tokenizes to zero postings writes a fileless dir
    * (just _SUCCESS), and parquet schema INFERENCE on it throws — the
    * empty index must still commit, open and answer (with nothing). */
  val segmentSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[PostingRow].schema

  def readSegments(spark: SparkSession, dir: String): Dataset[PostingRow] = {
    import spark.implicits._
    spark.read.schema(segmentSchema).parquet(segmentsDir(dir))
      .select($"part_id".cast("int").as("part_id"), $"term", $"bucket", $"n",
        $"cf", $"min_doc", $"blocks")
      .as[PostingRow]
  }

  /** Derive the DOC-partitioned SERVING layout from an existing
    * TERM-partitioned index — a rebucket + remap transform of the built
    * segments, NOT a rebuild (round-3 VERDICT stretch: the bench
    * tokenized the corpus twice to build both layouts independently).
    *
    * Head-term rows are already docId-range-confined and pass through
    * with their blocks untouched; only range-straddling rare rows decode,
    * split and re-encode ([[QueryEngine.rebucketByRange]] streams them).
    * Every posting then lands at part_id = bucket % P — exactly where the
    * direct doc-partitioned build puts it, with the same deterministic
    * [[Codec.encodeBlocks]] over the same sorted postings, so the derived
    * index is posting-identical to a direct build (spec-asserted), at the
    * cost of one segments pass instead of a corpus tokenize.
    *
    * Commit order is every writer's: validate → [[clearIndexDir]] →
    * [[commitSegments]] → meta LAST. Deriving onto an existing index dir
    * replaces it whole, sidecars included (re-attach attrs with
    * [[Attrs.writeAttrs]]); `outDir` must not be `srcDir`. */
  def deriveDocPartitioned(spark: SparkSession, srcDir: String,
                           outDir: String): Meta = {
    import spark.implicits._
    val srcMeta = readMeta(spark, srcDir)
    require(!srcMeta.doc_partitioned,
      s"$srcDir is already doc-partitioned — nothing to derive")
    requireNotInput(spark, Seq(srcDir), outDir)
    val p = srcMeta.num_partitions
    clearIndexDir(spark, outDir)
    val derived = QueryEngine.rebucketByRange(readSegments(spark, srcDir),
        srcMeta.bucket_width, srcMeta.block_size)
      .map(r => r.copy(part_id = r.bucket % p))
      .repartition(p, $"part_id")
      .sortWithinPartitions($"term", $"bucket", $"min_doc")
    commitSegments(spark, derived, outDir)
    val meta = srcMeta.copy(doc_partitioned = true)
    writeMetaFile(spark, s"$outDir/stats/meta", meta)
    meta
  }

}
