package graft

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.TopK.QueryHeap

/** Batched indexed query — the graft of the reference's two-phase routed
  * query (`TopWId` routing + `TopKId` scan, EP3 in SURVEY.md §3):
  *
  *  Phase 1 (driver, no job once the handle has memoized the batch's
  *  terms): build the per-batch term table — idf per query term slot
  *  from the stats table (the reference's per-query `DTable` LUT,
  *  `src/index_ivfpq.cpp:554-568`), a few primitive arrays shipped in the
  *  scoring stage's task binary — and, on a term-partitioned index, the
  *  candidate partition set (driver arithmetic: rare terms hash to
  *  exactly one (term,0) partition; salted head terms enumerate their
  *  docId buckets).
  *
  *  Phase 2 (one Spark job of one stage for the WHOLE query batch on the
  *  cached serving layout, like `TopKId`'s single OMP pass): the handle
  *  persists one [[QueryEngine.ServingPart]] per partition — the posting
  *  and filter lists of its docId buckets, grouped by term, blocks still
  *  encoded — and each task reads only the batch's lists by key and
  *  scores every query per bucket with the shared-contribution
  *  [[QueryEngine.BucketTaat]] scorer; no Catalyst plan runs. Uncached
  *  batches pick a posting source, restrict it once to the batch's terms
  *  and filter lists, re-bucket it into docId ranges if it is
  *  term-partitioned, and group it per task into the same parts. The
  *  tasks' per-query top-k blocks merge in the same job; the nq·k
  *  hits come back in (query_id, rank) order as one [[HitsRelation]] leaf
  *  over the merged block, so collecting them runs no further job.
  *
  * Scale note: one scorer serves every layout. Re-bucketing bounds
  * per-task memory by the range width, never by a head term's full
  * posting set — the same shape as the reference's per-cluster fan-out.
  */
object QueryEngine {

  /** Pruning-effort accumulators (reference analog: the global
    * `num_searched_cluster/vector` reduction counters printed per batch,
    * `src/index_ivfpq.cpp:257-294` — SURVEY.md §2.4 A4). */
  final class EffortAccs(spark: SparkSession) extends Serializable {
    /** (query, bucket) scorer calls — one per [[BucketTaat.score]] call;
      * buckets skipped by the block-max bound are not counted. */
    val wandCalls = spark.sparkContext.longAccumulator("wand_calls")
    val blocksTotal = spark.sparkContext.longAccumulator("blocks_total")
    val blocksDecoded = spark.sparkContext.longAccumulator("blocks_decoded")
    /** Slots the scorer touched after chunk-skip / TA-walk pruning,
      * summed over calls: a dense call counts the non-empty slots of the
      * chunks it scanned (or the TA walk's survivors), a sparse or
      * single-list call its lists' postings. Under an attribute filter
      * the lists hold admitted docs only, so only those are counted. */
    val docsScored = spark.sparkContext.longAccumulator("docs_scored")
    // Wall-time split of the batched scorer (task-summed nanos; the
    // SURVEY §7.5 codegen-Expression question needs the DECODE share of
    // query time, not just the decode count): VByte block decode vs BM25
    // contribution precompute vs TAAT accumulate vs top-k heap merge.
    val decodeNanos = spark.sparkContext.longAccumulator("decode_nanos")
    val contribNanos = spark.sparkContext.longAccumulator("contrib_nanos")
    val scoreNanos = spark.sparkContext.longAccumulator("score_nanos")
    val mergeNanos = spark.sparkContext.longAccumulator("merge_nanos")
    // (query, bucket) evaluations skipped by the block-max bound carry
    val bucketsSkipped = spark.sparkContext.longAccumulator("buckets_skipped")
    override def toString: String =
      s"wand_calls=${wandCalls.value} blocks_total=${blocksTotal.value} " +
        s"blocks_decoded=${blocksDecoded.value} docs_scored=${docsScored.value} " +
        s"buckets_skipped=${bucketsSkipped.value} " +
        s"decode_ms=${decodeNanos.value / 1000000} contrib_ms=${contribNanos.value / 1000000} " +
        s"score_ms=${scoreNanos.value / 1000000} merge_ms=${mergeNanos.value / 1000000}"
  }

  /** The batch's query plan (the "DTable" of the batch), shipped to every
    * scoring task. Terms are numbered by slot and queries by index, so
    * the scorer's per-bucket bookkeeping is array indexing:
    * `terms(s)`/`idf(s)` per slot; `qids(q)` (ascending) and the slots of
    * query q's terms `queryTerms(q)` (in query order, a repeated term
    * repeated) per query index; `termQueries(s)` the ascending query
    * indexes using slot s. */
  final case class Plan(
      k: Int,
      avgdl: Double,
      terms: Array[String],
      idf: Array[Double],
      qids: Array[Int],
      queryTerms: Array[Array[Int]],
      termQueries: Array[Array[Int]],
      bucketWidth: Long = 0L, // doc-partitioned batch scoring needs the geometry
      conjunctive: Boolean = false, // AND semantics: docs must match EVERY query term
      // attribute filter as virtual posting lists ([[Attrs]]): per bucket,
      // [[scorePartition]] keeps in the scored term lists only the docs
      // that appear in at least one of these lists (OR across the values
      // of an IN-predicate). BM25 stats stay corpus-global — a filter
      // restricts candidates, not scoring.
      filterTerms: Seq[String] = Nil,
      // range predicate `attr BETWEEN lo AND hi` over NUMERIC attr values
      // ([[Attrs.rangeTermMatches]]): narrows the term lists as
      // filterTerms does, the requested lists selected by value range
      // instead of an explicit IN set
      filterRange: Option[(String, Double, Double)] = None) {

    /** Any attribute filter in force? (empty-IN batches are answered
      * upstream — [[runOnHandle]] returns empty before planning). */
    def filterActive: Boolean = filterTerms.nonEmpty || filterRange.isDefined

    @transient private lazy val filterTermSet: Set[String] = filterTerms.toSet

    /** Is this term one of the predicate's requested virtual lists? The
      * BINDING match decision for the per-bucket admit fold, applied to
      * every row the batch's restriction selected (a superset for a
      * range). */
    def isRequestedFilter(term: String): Boolean =
      Attrs.isFilterTerm(term) && (filterTermSet.contains(term) ||
        filterRange.exists { case (a, lo, hi) =>
          Attrs.rangeTermMatches(term, a, lo, hi) })
  }

  /** Build the batch plan from per-term stats (df) + corpus scalars.
    * `termStats` may be the full stats table; only query terms are used.
    *
    * `conjunctive = true` switches the batch to AND semantics: a doc
    * qualifies only if it contains EVERY distinct term of the query
    * (scored by the same BM25 sum over them). A query containing a term
    * absent from the corpus can match nothing — it is dropped from the
    * plan here, so the scorer only ever needs the all-present term count.
    * A query with no indexed term scores nothing and is left out; a
    * query id given twice keeps its last term list. */
  def plan(cs: CorpusStats, termDf: Map[String, Long],
           queries: Seq[(Int, Seq[String])] = QuerySet.queryTerms,
           k: Int = QuerySet.K, conjunctive: Boolean = false): Plan = {
    val live =
      if (conjunctive) queries.filter(_._2.forall(termDf.contains)) else queries
    val byQid = live.map { case (qid, ts) => qid -> ts.filter(termDf.contains) }
      .toMap.filter(_._2.nonEmpty)
    val qids = byQid.keys.toArray.sorted
    val terms = qids.flatMap(byQid).distinct
    val slotOf = terms.zipWithIndex.toMap
    val queryTerms = qids.map(q => byQid(q).map(slotOf).toArray)
    val users = Array.fill(terms.length)(Array.newBuilder[Int])
    queryTerms.indices.foreach(q => queryTerms(q).distinct.foreach(users(_) += q))
    Plan(k, cs.avgdl, terms, terms.map(t => Bm25.idf(cs.n_docs, termDf(t))),
      qids, queryTerms, users.map(_.result()), conjunctive = conjunctive)
  }

  /** Batched per-bucket scorer: shared-contribution term-at-a-time.
    *
    * Per bucket: decode each term's postings ONCE and precompute its
    * integer micro-contributions ONCE (every query using the term reuses
    * them — the whole-batch analog of the reference's per-query DTable);
    * then each query scores its lists into its carried [[QueryHeap]].
    * Exact within the bucket ⇒ exactly the integer-micro scores of the
    * oracle (no cursor machinery, no per-query re-decode, branch-free
    * inner loops).
    *
    * Three accumulation shapes, picked per (query, bucket) — all exact,
    * differing only in constant factors (the round-4 phase profile put
    * this accumulate+select phase at 92% of query task time, 6.4e9
    * touched-doc operations at 8M docs / nq=1000):
    *  - ONE list present → no accumulator at all: stream the list
    *    straight into the heap (one θ compare per posting).
    *  - Σ list lengths ≥ width (the webtext regime — head terms put ~77%
    *    of the bucket in every list) → DENSE: branch-free `+=` into a
    *    zeroed width array, then one sequential scan. Each add carries
    *    [[DenseTag]] in the high bits so a doc whose contributions sum to
    *    0 micros is still distinguishable from an untouched slot (df≈N
    *    terms at huge N can floor to 0 — rank-identity cannot depend on
    *    contribs being nonzero).
    *  - otherwise → SPARSE: the stamp-cleared scatter of rounds 1-3
    *    (cost ∝ touched docs, not width).
    * No shape knows of attribute filters: [[scorePartition]] binds lists
    * that hold only the bucket's admitted docs. */
  final class BucketTaat(width: Int, k: Int) {
    private val scores = new Array[Long](width)
    private val stamp = new Array[Int](width)
    private val touched = new Array[Int](width)
    private var curStamp = 0
    // gathered per-call list references (grown on demand; no per-call alloc)
    private var gIdx = new Array[Array[Int]](8)
    private var gCs = new Array[Array[Long]](8)
    private var gSlot = new Array[Int](8)

    // Per-bucket DENSE CONTRIBUTION COLUMNS (the round-6 batched-scorer
    // optimization): the dense path used to re-scatter every term's
    // (idxs, cs) list into the zeroed scores array PER QUERY — at bench
    // shape (nq=1000, ~77%-density head lists) the same term list was
    // scattered hundreds of times per bucket. Densifying a term ONCE per
    // bucket into a width-sized column (contrib + DenseTag at present
    // docs, 0 elsewhere) extends the existing decode-once-per-bucket
    // sharing one step further; per query the accumulation becomes a
    // sequential column sum (no per-query zero-fill, no index
    // indirection — the loop the JIT can actually vectorize). Long
    // addition is commutative/associative, so per-doc sums — tag bits
    // included — are bit-identical to the scatter path's.
    //
    // Cache keyed by the plan's term slot, valid for the lists bound by
    // the last [[beginBucket]], which recycles the columns so per-task
    // memory stays O(batch terms · width), capped at [[MaxCols]] columns
    // (beyond it a term falls back to the old inline scatter).
    /** A densified term: the width-sized tagged contribution column plus
      * per-CHUNK contribution maxima (chunk = 2^[[ChunkShift]] slots) —
      * the block-max structure of the dense scan: a query's per-chunk
      * score bound is the Σ over its terms' cmax entries, letting the
      * selection skip whole chunks that provably cannot reach θ. */
    final class DenseCol(val col: Array[Long], val cmax: Array[Long]) {
      var bmax: Long = 0L // bucket-wide max contrib of the term
    }
    private val ChunkShift = 8
    private val nChunks = (width + (1 << ChunkShift) - 1) >> ChunkShift
    private val colPool = new scala.collection.mutable.ArrayBuffer[DenseCol]()
    private val MaxCols = 256
    private var gCols = new Array[DenseCol](8)
    // The bucket's lists by slot (null = the term has no postings here).
    private var lIdx = new Array[Array[Int]](0)
    private var lCs = new Array[Array[Long]](0)
    // Per slot, this bucket's dense column and its contrib-DESC-sorted
    // list for the TA pruned walk (packed (contrib << 32) | idx; one sort
    // per term per bucket, shared by every query using the term), and
    // the slots holding either.
    private var colOf = new Array[DenseCol](0)
    private var sortedOf = new Array[Array[Long]](0)
    private val cachedSlots = new scala.collection.mutable.ArrayBuffer[Int]()
    private var nCols = 0

    /** Bind the next bucket's term lists, indexed by plan slot (null when
      * the term has no postings in the bucket), and recycle the previous
      * bucket's cached columns and sorted lists. Call once per bucket,
      * before its [[score]] calls. */
    def beginBucket(idxs: Array[Array[Int]], cs: Array[Array[Long]]): Unit = {
      cachedSlots.foreach { s =>
        if (colOf(s) != null) colPool += colOf(s)
        colOf(s) = null; sortedOf(s) = null
      }
      cachedSlots.clear()
      nCols = 0
      if (colOf.length < idxs.length) {
        colOf = new Array[DenseCol](idxs.length)
        sortedOf = new Array[Array[Long]](idxs.length)
      }
      lIdx = idxs; lCs = cs
    }

    /** The slot's (contrib, idx) pairs packed ASC-sorted (walked from the
      * tail for descending contribs). Packing is safe under the same
      * bound the [[DenseTag]] design already relies on: one contribution
      * is ≤ ~6.1e7 micros < 2^31, and idx < width fits the low 32 bits. */
    private def sortedFor(slot: Int): Array[Long] = {
      val got = sortedOf(slot)
      if (got != null) return got
      val idxs = lIdx(slot)
      val cs = lCs(slot)
      val n = idxs.length
      val packed = new Array[Long](n)
      var i = 0
      while (i < n) {
        packed(i) = (cs(i) << 32) | (idxs(i).toLong & 0xffffffffL)
        i += 1
      }
      java.util.Arrays.sort(packed)
      if (colOf(slot) == null) cachedSlots += slot
      sortedOf(slot) = packed
      packed
    }

    private def colFor(slot: Int): DenseCol = {
      val got = colOf(slot)
      if (got != null) return got
      if (nCols >= MaxCols) return null
      nCols += 1
      val e = if (colPool.nonEmpty) colPool.remove(colPool.length - 1)
              else new DenseCol(new Array[Long](width), new Array[Long](nChunks))
      val col = e.col
      val cmax = e.cmax
      java.util.Arrays.fill(col, 0L)
      java.util.Arrays.fill(cmax, 0L)
      val idxs = lIdx(slot)
      val cs = lCs(slot)
      var i = 0
      val n = idxs.length
      var bm = 0L
      while (i < n) {
        val ix = idxs(i)
        val c = cs(i)
        col(ix) += c + DenseTag
        val ch = ix >> ChunkShift
        if (c > cmax(ch)) cmax(ch) = c
        if (c > bm) bm = c
        i += 1
      }
      e.bmax = bm
      if (sortedOf(slot) == null) cachedSlots += slot
      colOf(slot) = e
      e
    }

    /** Scores every posting of the query's term `slots` present in the
      * bucket bound by [[beginBucket]] — per slot, (docIdx within bucket,
      * contribMicro) — into `heap` (doc ids globalized with `base`).
      * Returns touched-doc count.
      *
      * `required = 0` is disjunctive (OR) BM25; `required = m > 0` is
      * conjunctive — only docs matched by exactly m lists qualify (the
      * caller passes the query's FULL distinct-term count, so a term with
      * no postings in this bucket excludes every doc of the bucket: a
      * doc lives in exactly one bucket, so per-bucket AND is global AND). */
    def score(slots: Array[Int], base: Long, heap: QueryHeap, required: Int = 0): Int = {
      var nl = 0
      var total = 0
      if (gIdx.length < slots.length) {
        gIdx = new Array[Array[Int]](slots.length)
        gCs = new Array[Array[Long]](slots.length)
        gSlot = new Array[Int](slots.length)
      }
      var i = 0
      while (i < slots.length) {
        val s = slots(i)
        val idxs = lIdx(s)
        if (idxs != null) {
          gIdx(nl) = idxs; gCs(nl) = lCs(s); gSlot(nl) = s
          nl += 1; total += idxs.length
        }
        i += 1
      }
      if (nl == 0) 0
      else if (required > 0 && nl < required) 0 // conj: a term absent here excludes the whole bucket
      else if (nl == 1 && required <= 1) scoreSingle(gSlot(0), base, heap)
      else if (total >= width) scoreDense(nl, base, heap, required)
      else scoreSparse(nl, base, heap, required)
    }

    /** One list: the list IS the score column — stream it into the heap.
      * Lists are docId-ascending, so the tight θ floor applies (see
      * [[QueryHeap.tightFloorFor]]): with a full heap strictly below this
      * bucket, acceptance is the single compare `contrib > kth`. */
    private def scoreSingle(slot: Int, base: Long, heap: QueryHeap): Int = {
      val idxs = lIdx(slot)
      val cs = lCs(slot)
      var i = 0
      val n = idxs.length
      if (heap.tightFloorFor(base)) {
        // TA pruned walk, single-list case: only docs with contrib > θ
        // can be accepted (pruned ones have s ≤ θ_entry — same exactness
        // argument as the multi-term walk in scoreDense); offers go
        // through the FULL heap insert, exact in any order. The sorted
        // walk is sequential over the packed array, so unlike the
        // multi-term case no random column access is involved and no
        // hybrid gate is needed — the walk never visits more entries
        // than the plain stream.
        val th = heap.kth
        val packed = sortedFor(slot)
        var j = packed.length - 1
        while (j >= 0 && (packed(j) >>> 32) > th) {
          heap.offer(packed(j) >>> 32, base + (packed(j) & 0xffffffffL))
          j -= 1
        }
      } else
        while (i < n) { heap.offer(cs(i), base + idxs(i)); i += 1 }
      n
    }

    // Tag added once per accumulated posting: keeps every touched slot
    // nonzero and counts matched lists in the high bits. The guard bound
    // comes from the score side, not the count side: one contribution is
    // ≤ ~6.1e7 micros (idf ≤ ln(2N) ≈ 27.6 even at N = 10^12, × 2.2e6),
    // so a per-doc sum stays below bit 42 only while
    // nl ≤ 2^42 / 6.1e7 ≈ 7.2e4 — enforce 2^16 with margin. Above it the
    // sum would bleed into the tag count and corrupt BOTH fields silently.
    private val DenseTag = 1L << 42
    private val DenseMask = DenseTag - 1
    private val MaxTaggedLists = 1 << 16

    private def scoreDense(nl: Int, base: Long, heap: QueryHeap, required: Int): Int = {
      require(nl <= MaxTaggedLists,
        s"tagged scorer supports <= $MaxTaggedLists lists, got $nl")
      if (gCols.length < nl) gCols = new Array[DenseCol](nl)
      var li = 0
      var allCols = true
      while (li < nl) {
        val c = colFor(gSlot(li))
        gCols(li) = c
        if (c == null) allCols = false
        li += 1
      }
      var cand = 0
      var d = 0
      // Fused column-sum selection for the common shapes (2-3 term
      // disjunctive queries — the batched-serving hot loop):
      // no scores-array fill, no scatter, just nl sequential reads per
      // slot. Identical per-doc values (same summands, integer adds).
      if (allCols && required == 0 && (nl == 2 || nl == 3)) {
        // Offers run in ascending d, so the tight θ floor applies: with a
        // full heap strictly below this bucket the acceptance test is ONE
        // predictable compare per slot — and whole chunks whose per-term
        // maxima sum to ≤ θ are skipped without touching the columns at
        // all (block-max pruning at chunk granularity: the chunk bound
        // Σ cmax dominates every doc's sum in it, and under the tight
        // floor a tie at θ is provably rejected too).
        if (heap.tightFloorFor(base)) {
          var th = heap.kth
          // --- TA pruned walk (Fagin's threshold algorithm, bucket-local):
          // any doc with total score s(d) > θ must satisfy, for EVERY term
          // t, c_t(d) > θ − Σ_{u≠t} bmax_u. Walking ONE term's contrib-
          // sorted list down to that threshold therefore enumerates a
          // SUPERSET of all possibly-accepted docs (choose the max-bmax
          // term so the threshold is as high as possible; thr ≥ 0 also
          // guarantees docs absent from that list — contrib 0 — cannot
          // qualify). Each survivor is offered through the FULL heap
          // insert, which is exact for any offer order; pruned docs have
          // s ≤ θ_entry and can never belong in the final heap, because
          // in-bucket docs only enter it with s > θ-at-accept ≥ θ_entry,
          // so the k-th slot can never end at θ_entry with an in-bucket
          // doc (the tight floor already rejects out-of-heap ties).
          val bm0 = gCols(0).bmax
          val bm1 = gCols(1).bmax
          val bm2 = if (nl == 3) gCols(2).bmax else 0L
          var tStar = if (bm1 > bm0) 1 else 0
          if (nl == 3 && bm2 > (if (tStar == 0) bm0 else bm1)) tStar = 2
          val thr = th - (bm0 + bm1 + bm2 - (if (tStar == 0) bm0 else if (tStar == 1) bm1 else bm2))
          if (thr >= 0) {
            val packed = sortedFor(gSlot(tStar))
            // Hybrid gate: count survivors by binary search first; the
            // walk's random column accesses only beat the sequential
            // chunked scan when the surviving set is genuinely small
            // (flat score distributions — like head-only synthetic text —
            // leave most of the list above thr, where the scan wins).
            var lo = 0
            var hi = packed.length
            val key = (thr + 1) << 32 // first packed value with contrib > thr
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (packed(mid) < key) lo = mid + 1 else hi = mid
            }
            val walkLen = packed.length - lo
            if (walkLen.toLong * 4 * nl < width) {
              val c0 = gCols(0).col
              val c1 = gCols(1).col
              val c2 = if (nl == 3) gCols(2).col else null
              var i = packed.length - 1
              while (i >= lo) {
                val d2 = (packed(i) & 0xffffffffL).toInt
                val v = if (nl == 3) c0(d2) + c1(d2) + c2(d2) else c0(d2) + c1(d2)
                cand += 1
                heap.offer(v & DenseMask, base + d2)
                i -= 1
              }
              return cand
            }
          }
          if (nl == 2) {
            val e0 = gCols(0); val e1 = gCols(1)
            val c0 = e0.col; val c1 = e1.col
            val m0 = e0.cmax; val m1 = e1.cmax
            var ch = 0
            while (ch < nChunks) {
              if (m0(ch) + m1(ch) > th) {
                d = ch << ChunkShift
                val end = math.min(d + (1 << ChunkShift), width)
                while (d < end) {
                  val v = c0(d) + c1(d)
                  if (v != 0L) {
                    cand += 1
                    val s = v & DenseMask
                    if (s > th) { heap.offer(s, base + d); th = heap.kth }
                  }
                  d += 1
                }
              }
              ch += 1
            }
          } else {
            val e0 = gCols(0); val e1 = gCols(1); val e2 = gCols(2)
            val c0 = e0.col; val c1 = e1.col; val c2 = e2.col
            val m0 = e0.cmax; val m1 = e1.cmax; val m2 = e2.cmax
            var ch = 0
            while (ch < nChunks) {
              if (m0(ch) + m1(ch) + m2(ch) > th) {
                d = ch << ChunkShift
                val end = math.min(d + (1 << ChunkShift), width)
                while (d < end) {
                  val v = c0(d) + c1(d) + c2(d)
                  if (v != 0L) {
                    cand += 1
                    val s = v & DenseMask
                    if (s > th) { heap.offer(s, base + d); th = heap.kth }
                  }
                  d += 1
                }
              }
              ch += 1
            }
          }
        } else if (nl == 2) {
          val c0 = gCols(0).col; val c1 = gCols(1).col
          while (d < width) {
            val v = c0(d) + c1(d)
            if (v != 0L) { cand += 1; heap.offer(v & DenseMask, base + d) }
            d += 1
          }
        } else {
          val c0 = gCols(0).col; val c1 = gCols(1).col; val c2 = gCols(2).col
          while (d < width) {
            val v = c0(d) + c1(d) + c2(d)
            if (v != 0L) { cand += 1; heap.offer(v & DenseMask, base + d) }
            d += 1
          }
        }
        return cand
      }
      // Generic accumulation into the scores array: cached columns add
      // sequentially (the first one replaces the zero-fill via copy),
      // over-cap terms scatter their lists exactly as before.
      var first = true
      li = 0
      while (li < nl) {
        val col = if (gCols(li) == null) null else gCols(li).col
        if (col != null) {
          if (first) { System.arraycopy(col, 0, scores, 0, width); first = false }
          else {
            var i = 0
            while (i < width) { scores(i) += col(i); i += 1 }
          }
        } else {
          if (first) { java.util.Arrays.fill(scores, 0L); first = false }
          val idxs = gIdx(li)
          val cs = gCs(li)
          var i = 0
          val n = idxs.length
          while (i < n) { scores(idxs(i)) += cs(i) + DenseTag; i += 1 }
        }
        li += 1
      }
      if (first) java.util.Arrays.fill(scores, 0L)
      if (required == 0) {
        if (heap.tightFloorFor(base)) {
          var th = heap.kth
          while (d < width) {
            val v = scores(d)
            if (v != 0L) {
              cand += 1
              val s = v & DenseMask
              if (s > th) { heap.offer(s, base + d); th = heap.kth }
            }
            d += 1
          }
        } else {
          while (d < width) {
            val v = scores(d)
            if (v != 0L) { cand += 1; heap.offer(v & DenseMask, base + d) }
            d += 1
          }
        }
      } else {
        // conjunctive: the tag count IS the per-doc matched-list count
        val want = required.toLong << 42
        while (d < width) {
          val v = scores(d)
          if (v != 0L && (v & ~DenseMask) == want) {
            cand += 1; heap.offer(v & DenseMask, base + d)
          }
          d += 1
        }
      }
      cand
    }

    /** Sparse stamped scatter (cost ∝ touched docs, not width). A
      * conjunctive call (`required > 0`) adds the dense path's
      * [[DenseTag]] per posting, so only docs whose matched-list count
      * equals `required` reach the heap; a disjunctive call adds no tag,
      * so every touched doc passes the same select (tag count 0 =
      * `required`). */
    private def scoreSparse(nl: Int, base: Long, heap: QueryHeap, required: Int): Int = {
      if (required > 0) require(nl <= MaxTaggedLists,
        s"tagged scorer supports <= $MaxTaggedLists lists, got $nl")
      val tag = if (required > 0) DenseTag else 0L
      curStamp += 1
      var nTouched = 0
      var li = 0
      while (li < nl) {
        val idxs = gIdx(li)
        val cs = gCs(li)
        var i = 0
        val n = idxs.length
        while (i < n) {
          val ix = idxs(i)
          if (stamp(ix) != curStamp) {
            stamp(ix) = curStamp; scores(ix) = cs(i) + tag
            touched(nTouched) = ix; nTouched += 1
          } else scores(ix) += cs(i) + tag
          i += 1
        }
        li += 1
      }
      val want = required.toLong << 42
      var j = 0
      while (j < nTouched) {
        val ix = touched(j)
        val v = scores(ix)
        if ((v & ~DenseMask) == want) heap.offer(v & DenseMask, base + ix)
        j += 1
      }
      nTouched
    }
  }

  /** Restrict postings to the batch's terms with one `isin`, at every
    * batch size. Catalyst turns a long list into an `InSet` (a hash-set
    * probe per row) and pushes it into the Parquet scan (row-group
    * skipping on the term-sorted files); a broadcast semi-join would cost
    * a job of its own per batch. */
  def whereTerms(postings: Dataset[PostingRow], terms: Seq[String]): Dataset[PostingRow] =
    postings.where(col("term").isin(terms: _*))

  /** The batch's posting restriction, the one place that selects its
    * rows: scoring and IN filter terms through one `isin`; a range
    * predicate adds the attr's lists whose value casts into the range
    * ([[Attrs.rangeTermCond]]) as one pushed `isin ∨ startsWith` filter
    * with the cast after the scan, so each side of a segments ∪ sidecar
    * source is scanned once. */
  def restrictToPlan(postings: Dataset[PostingRow], plan: Plan): Dataset[PostingRow] = {
    val terms = plan.terms.toSeq ++ plan.filterTerms
    plan.filterRange match {
      case Some((a, lo, hi)) =>
        val inAttr = col("term").startsWith(Attrs.attrPrefix(a))
        postings.where(col("term").isin(terms: _*) || inAttr)
          .where(!inAttr || Attrs.rangeTermCond(a, lo, hi))
      case None => whereTerms(postings, terms)
    }
  }

  /** Run the batch over an in-memory postings Dataset (the filter lists,
    * when the plan has a filter, unioned in by the caller). Emits
    * (query_id, rank, doc_id, score_micro), ordered: the rows are
    * restricted to the plan, re-bucketed into docId ranges and scored by
    * [[runDocPartitioned]], so per-task memory is bounded by the range
    * width — the reference's `TopKId` never concentrates one query's
    * candidates in one thread (`src/index_ivfpq.cpp:239-295`). */
  def run(spark: SparkSession, postings: Dataset[PostingRow], plan: Plan,
          effort: Option[EffortAccs] = None): DataFrame = {
    val p = if (plan.bucketWidth > 0) plan
            else plan.copy(bucketWidth = 4096L) // in-memory postings carry no geometry; any positive width is rank-safe
    runDocPartitioned(spark, servingParts(
      rebucketByRange(restrictToPlan(postings, p), p.bucketWidth, Codec.BlockSize)), p, effort)
  }

  /** Candidate (term, bucket) pairs for partition pruning (phase-1
    * routing; reference analog: the `book` of clusters to load, S12).
    *
    * Routing derives from `termMaxBucket` — the PERSISTED max docId
    * bucket per term (stats/terms.max_bucket, aggregated from the built
    * segments) — NOT from re-deriving head-ness via df > headDf. The two
    * can disagree: the build's salting decision uses a SAMPLED df
    * estimate (Config.headSampleInv), so a term can be salted into
    * buckets > 0 while its exact df is ≤ headDf (or vice versa).
    * max_bucket reflects what the build actually did, so pruning to
    * buckets 0..max_bucket is exact for unsalted terms (max_bucket = 0)
    * and a covering superset for salted ones. */
  def candidatePairs(termMaxBucket: Map[String, Int],
                     queries: Seq[(Int, Seq[String])]): Seq[(String, Int)] =
    queries.flatMap(_._2).distinct.filter(termMaxBucket.contains).flatMap { t =>
      (0 to termMaxBucket(t)).map(b => (t, b))
    }

  /** Partition set for a batch, or None = scan all partitions. A salted
    * head term's buckets hash across ALL partitions once buckets ≫ P
    * (at 10^12 docs a head term has ~10^8 buckets — enumerating them
    * driver-side would itself be the bottleneck), so bucket-heavy batches
    * skip partition pruning and rely on the term predicate's row-group
    * pushdown; rare-term batches keep exact single-partition pruning.
    * The cutoff counts actual pairs (Σ max_bucket+1) without
    * materializing them. */
  def prunedPartIds(meta: IndexBuild.Meta, termMaxBucket: Map[String, Int],
                    queries: Seq[(Int, Seq[String])]): Option[Seq[Int]] = {
    val terms = queries.flatMap(_._2).distinct.filter(termMaxBucket.contains)
    val nPairs = terms.iterator.map(termMaxBucket(_).toLong + 1).sum
    if (nPairs > 4L * meta.num_partitions) None
    else Some(candidatePartIds(meta, candidatePairs(termMaxBucket, queries)))
  }

  /** part_id for each candidate pair, deduped and sorted: driver
    * arithmetic through [[IndexBuild.partIdOf]], the Scala mirror of the
    * build's `pmod(xxhash64(term, bucket), P)` (bit-exact, EngineSpec). */
  def candidatePartIds(meta: IndexBuild.Meta, pairs: Seq[(String, Int)]): Seq[Int] =
    pairs.map { case (t, b) => IndexBuild.partIdOf(t, b, meta.num_partitions) }
      .distinct.sorted

  /** Re-bucket posting rows into docId-range buckets (bucket = doc_id /
    * width) so the doc-partitioned batched scorer can serve a TERM-
    * partitioned index: after re-bucketing, no task ever materializes
    * more than `width` postings per term, even for a head term.
    *
    * Cost is bounded: salted head-term rows are ALREADY range-confined
    * (pass through, no decode — the common bulk); only rare-term rows
    * (n ≤ headDf by construction) that straddle a range boundary decode,
    * split and re-encode, in the codec of the row's own blocks (so a PFor
    * index derives a PFor serving layout). */
  def rebucketByRange(rows: Dataset[PostingRow], width: Long,
                      blockSize: Int): Dataset[PostingRow] = {
    import rows.sparkSession.implicits._
    rows.flatMap(rebucketRow(_, width, blockSize))
  }

  /** One row of [[rebucketByRange]]: the row itself when it lies in one
    * docId range, else its per-range slices. */
  def rebucketRow(r: PostingRow, width: Long, blockSize: Int): Iterator[PostingRow] = {
    val lo = (r.min_doc / width).toInt
    val hi = (r.blocks.last.max_doc / width).toInt
    if (lo == hi) {
      if (r.bucket == lo) Iterator.single(r)
      else Iterator.single(r.copy(bucket = lo))
    } else {
      // Only range-STRADDLING rows decode here — normally unsalted
      // (bucket 0) rows, whose n is the term's df. The build's salting
      // decision is a SAMPLED df estimate, and term placement can
      // correlate with doc_id (ADVICE round 2: a term living only in
      // docs outside the 1/headSampleInv sample reads df=0 and stays
      // unsalted at ANY true df) — so this path must not assume n is
      // small. It streams: decode ONE block at a time (blocks are
      // docId-sorted) and emit each completed docId-range slice as soon
      // as the stream crosses its boundary. Peak memory is
      // O(blockSize + postings of one range) — bounded by max(blockSize,
      // width) — instead of three O(n) arrays, and the output rows are
      // consumed lazily by the shuffle writer (flatMap iterator).
      val blockIt = r.blocks.iterator
      val pendD = new scala.collection.mutable.ArrayBuffer[Long]
      val pendT = new scala.collection.mutable.ArrayBuffer[Int]
      val pendL = new scala.collection.mutable.ArrayBuffer[Int]
      var curBucket = -1L
      def flushPending(): PostingRow = {
        val ds = pendD.toArray; val tfs = pendT.toArray; val dls = pendL.toArray
        pendD.clear(); pendT.clear(); pendL.clear()
        var cf = 0L; var i = 0
        while (i < tfs.length) { cf += tfs(i); i += 1 }
        PostingRow(r.part_id, r.term, (ds(0) / width).toInt, ds.length.toLong,
          cf, ds(0), Codec.encodeBlocks(ds, tfs, dls, blockSize, r.blocks.head.codec))
      }
      new Iterator[PostingRow] {
        private val queue = scala.collection.mutable.Queue.empty[PostingRow]
        private def fill(): Unit = {
          while (queue.isEmpty && blockIt.hasNext) {
            val (d, t, l) = Codec.decodeBlock(blockIt.next())
            var i = 0
            while (i < d.length) {
              val b = d(i) / width
              if (pendD.nonEmpty && b != curBucket) queue += flushPending()
              curBucket = b
              pendD += d(i); pendT += t(i); pendL += l(i)
              i += 1
            }
          }
          if (queue.isEmpty && !blockIt.hasNext && pendD.nonEmpty)
            queue += flushPending()
        }
        override def hasNext: Boolean = { fill(); queue.nonEmpty }
        override def next(): PostingRow = { fill(); queue.dequeue() }
      }
    }
  }

  /** The posting rows of one partition grouped for scoring, blocks still
    * encoded: per term, its rows by ascending docId bucket. Scoring terms
    * and attr filter lists ([[Attrs]]) sit in separate maps, so a range
    * predicate scans only filter lists. The handle's serving cache
    * persists one per partition; uncached routes build one per task from
    * their restricted rows ([[servingParts]]). Term-major, so a batch
    * reads its lists with one lookup per term, however many buckets the
    * partition holds. */
  final class ServingPart(val postings: java.util.HashMap[String, TermRows],
                          val filters: java.util.HashMap[String, TermRows])
      extends Serializable {
    /** The filter lists the plan's predicate requests: the IN terms by
      * key, or every list [[Plan.isRequestedFilter]] admits when a range
      * is in force. */
    def requestedFilters(p: Plan): Array[TermRows] =
      if (p.filterRange.isEmpty) p.filterTerms.flatMap(t => Option(filters.get(t))).toArray
      else {
        val b = Array.newBuilder[TermRows]
        filters.forEach((t, l) => if (p.isRequestedFilter(t)) b += l)
        b.result()
      }
  }

  /** One term's rows in one partition: `buckets` ascending, `rows(i)` the
    * rows of bucket `buckets(i)` by `min_doc` (one row per (term, bucket)
    * normally; merged inputs may contribute several). */
  final class TermRows(val buckets: Array[Int], val rows: Array[Array[PostingRow]])
      extends Serializable

  object ServingPart {
    /** Group one partition's rows; all rows of a bucket must sit in it. */
    def apply(it: Iterator[PostingRow]): ServingPart = {
      val byTerm = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[PostingRow]]()
      it.foreach(r => byTerm.computeIfAbsent(r.term, _ => scala.collection.mutable.ArrayBuffer.empty) += r)
      val postings = new java.util.HashMap[String, TermRows]()
      val filters = new java.util.HashMap[String, TermRows]()
      byTerm.forEach { (t, rs) =>
        val sorted = rs.toArray.sortWith((a, b) =>
          a.bucket < b.bucket || (a.bucket == b.bucket && a.min_doc < b.min_doc))
        val runs = Array.newBuilder[Array[PostingRow]]
        var i = 0
        while (i < sorted.length) {
          var j = i + 1
          while (j < sorted.length && sorted(j).bucket == sorted(i).bucket) j += 1
          runs += sorted.slice(i, j)
          i = j
        }
        val rows = runs.result()
        (if (Attrs.isFilterTerm(t)) filters else postings)
          .put(t, new TermRows(rows.map(_.head.bucket), rows))
      }
      new ServingPart(postings, filters)
    }
  }

  /** Steps 3-4 of an uncached batch: group rows that a caller has
    * restricted to the plan ([[restrictToPlan]]) and bucketed by docId
    * range (a doc-partitioned source, or rows after [[rebucketByRange]])
    * into one [[ServingPart]] per task, after one shuffle by bucket. The
    * pruned posting set is compact parquet — a plain scan packs it into
    * very few input splits (maxPartitionBytes), serializing the scoring
    * work; the shuffle spreads the buckets across the cluster and moves
    * only the pruned, compressed lists. */
  def servingParts(rows: Dataset[PostingRow]): RDD[ServingPart] =
    rows.repartition(col("bucket")).rdd.mapPartitions(new GroupPart)

  /** The engine's one scorer, the last step of every batch: score bucket-
    * grouped parts — the handle's cached serving layout, or an uncached
    * route's [[servingParts]]. Each task holds ALL batch terms of its
    * docId ranges, so it evaluates EVERY query of the batch against its
    * partition once (zero posting duplication). Per (query, bucket) the
    * shared-contribution [[BucketTaat]] scorer, with its block-max bucket
    * skip, chunk-max skip and TA walk, fills the task's per-query heaps;
    * the task emits them as one [[TopK.Block]], and the blocks merge in
    * [[TopK.mergeAll]]'s one `runJob`. Rank-identity: per-bucket
    * doc sets are disjoint, and top-k of a disjoint union = top-k of
    * per-part top-k's under the frozen total order, whatever the merge
    * tree.
    *
    * The hits come back in (query_id, rank) order as one
    * [[HitsRelation]] over the merged block: no sort, no row list in the
    * plan, and collecting them runs no job. */
  def runDocPartitioned(spark: SparkSession, parts: RDD[ServingPart],
                        plan: Plan, effort: Option[EffortAccs] = None): DataFrame = {
    require(plan.bucketWidth > 0, "doc-partitioned plan needs bucketWidth from meta")
    HitsRelation.toDF(spark,
      TopK.mergeAll(scoredBlocks(parts, plan, effort), plan.k, effort.map(_.mergeNanos)))
  }

  /** The batch's scoring stage: one [[scorePartition]] block per part.
    * The plan rides in the task function, which Spark ships once per
    * stage as the stage's task binary. */
  def scoredBlocks(parts: RDD[ServingPart], plan: Plan,
                   effort: Option[EffortAccs] = None): RDD[TopK.Block] =
    parts.map(new ScorePart(plan, effort))

  private final class GroupPart extends (Iterator[PostingRow] => Iterator[ServingPart]) with Serializable {
    def apply(it: Iterator[PostingRow]): Iterator[ServingPart] = Iterator.single(ServingPart(it))
  }
  private final class ScorePart(plan: Plan, effort: Option[EffortAccs])
      extends (ServingPart => TopK.Block) with Serializable {
    def apply(part: ServingPart): TopK.Block = scorePartition(plan, part, effort)
  }

  /** The per-partition body of [[runDocPartitioned]]: score every query
    * of `p` over one grouped part and return the part's top-k block: one
    * bounded list per query that has a candidate here. Reads only the
    * plan's lists, by key: its scoring terms and the filter lists its
    * predicate requests ([[ServingPart.requestedFilters]]). */
  def scorePartition(p: Plan, part: ServingPart,
                     effort: Option[EffortAccs]): TopK.Block = {
    val w = p.bucketWidth.toInt
    val nS = p.terms.length
    // entries 0 until nS are the plan's term slots, then the requested
    // filter lists; null = no rows in this part
    val lists = p.terms.map(part.postings.get) ++ part.requestedFilters(p)
    // (bucket, entry) pairs sorted: the buckets to visit, ascending, each
    // with its entries (scoring slots before filter lists)
    var nPairs = 0
    lists.foreach(l => if (l != null) nPairs += l.buckets.length)
    val pairs = new Array[Long](nPairs)
    var o = 0
    var e = 0
    while (e < lists.length) {
      val l = lists(e)
      if (l != null) l.buckets.foreach { b => pairs(o) = (b.toLong << 32) | e; o += 1 }
      e += 1
    }
    java.util.Arrays.sort(pairs)
    @inline def entry(x: Int): Int = (pairs(x) & 0xffffffffL).toInt
    // each entry's next bucket in its TermRows (pairs visit them in order)
    val cur = new Array[Int](lists.length)
    val taat = new BucketTaat(w, p.k)
    val prof = effort.isDefined
    // Per-task running top-k per query index: the threshold CARRIES
    // across this task's buckets, enabling the block-max skip below
    // (phase profiling at 8M docs: TAAT accumulation was 96% of query
    // task time; decode+contrib ~3%). Rank-identity is exact: a bucket is
    // skipped only when its score upper bound is STRICTLY below the
    // query's current k-th score, i.e. when every insert from it would
    // provably no-op under the frozen (score DESC, doc_id ASC) order —
    // the reference's block-max pruning argument
    // (`src/index_ivf.cpp:220-234` partial_sort + threshold).
    val heaps = new Array[QueryHeap](p.qids.length)
    // this bucket's decoded lists and max contribs by slot, and the
    // queries using them (stamped per bucket)
    val bIdx = new Array[Array[Int]](nS)
    val bCs = new Array[Array[Long]](nS)
    val maxC = new Array[Long](nS)
    val qSeen = new Array[Int](p.qids.length)
    val qHere = new Array[Int](p.qids.length)
    var stamp = 0
    // Attribute filter: the offsets a bucket admits carry its mark (one
    // stamp-cleared width-sized array for all of this task's buckets)
    val admit = if (p.filterActive) new Array[Int](w) else null
    var mark = 0
    var decodeNs = 0L; var contribNs = 0L; var scoreNs = 0L
    // ASCENDING bucket order: results are order-independent (the merged
    // top-k set is unique under the frozen total order), but ascending
    // docId ranges make the tight θ floor ([[QueryHeap.tightFloorFor]])
    // true for every bucket after each query's heap first fills — the
    // earliest (lowest-docId) ties win immediately and every later
    // bucket's ties are provably rejectable with one compare.
    var i = 0
    while (i < nPairs) {
      val bucket = (pairs(i) >> 32).toInt
      var j = i
      while (j < nPairs && (pairs(j) >> 32).toInt == bucket) j += 1
      val base = bucket.toLong * w
      // Attribute filter: mark the docs of this bucket's requested filter
      // lists — OR across the predicate's values. A filtered plan with NO
      // filter row here means no doc of this bucket matches the
      // predicate: skip the bucket.
      var anyAdmitted = admit == null
      if (admit != null) {
        mark += 1
        var x = i
        while (x < j) {
          val fe = entry(x)
          if (fe >= nS) lists(fe).rows(cur(fe)).foreach(_.blocks.foreach { b =>
            val (ds, _, _) = Codec.decodeBlock(b)
            var d = 0
            while (d < ds.length) {
              admit((ds(d) - base).toInt) = mark
              d += 1
            }
            anyAdmitted ||= ds.length > 0
          })
          x += 1
        }
      }
      if (anyAdmitted) {
        // decode each term's admitted postings ONCE; precompute micro-
        // contribs (and the term's max contrib = its block-max bound)
        // ONCE, shared by every query using the term. A list the filter
        // empties is absent (null): under AND it excludes the bucket.
        var bucketBlocks = 0L
        var nHere = 0
        stamp += 1
        var x = i
        while (x < j) {
          val s = entry(x)
          if (s < nS) {
            val rows = lists(s).rows(cur(s))
            val idf = p.idf(s)
            var n = 0
            rows.foreach(n += _.n.toInt)
            val idxs = new Array[Int](n)
            val cs = new Array[Long](n)
            var oi = 0
            var mx = 0L
            rows.foreach { r =>
              bucketBlocks += r.blocks.size
              r.blocks.foreach { b =>
                val t0 = if (prof) System.nanoTime() else 0L
                val (ds, tfs, dls) = Codec.decodeBlock(b)
                val t1 = if (prof) System.nanoTime() else 0L
                var d = 0
                while (d < ds.length) {
                  val ix = (ds(d) - base).toInt
                  if (admit == null || admit(ix) == mark) {
                    val c = Bm25.contribMicro(idf, tfs(d).toLong, dls(d).toLong, p.avgdl)
                    idxs(oi) = ix; cs(oi) = c
                    if (c > mx) mx = c
                    oi += 1
                  }
                  d += 1
                }
                if (prof) { decodeNs += t1 - t0; contribNs += System.nanoTime() - t1 }
              }
            }
            if (oi > 0) {
              bIdx(s) = if (oi < n) java.util.Arrays.copyOf(idxs, oi) else idxs
              bCs(s) = if (oi < n) java.util.Arrays.copyOf(cs, oi) else cs
              maxC(s) = mx
              p.termQueries(s).foreach { q =>
                if (qSeen(q) != stamp) { qSeen(q) = stamp; qHere(nHere) = q; nHere += 1 }
              }
            }
          }
          x += 1
        }
        // blocksTotal = naive per-query decode cost; blocksDecoded = the
        // actual once-per-bucket decodes — the ratio is the sharing win
        effort.foreach { a =>
          a.blocksTotal.add(bucketBlocks * nHere)
          a.blocksDecoded.add(bucketBlocks)
        }
        taat.beginBucket(bIdx, bCs)
        var qi = 0
        while (qi < nHere) {
          val q = qHere(qi)
          if (heaps(q) == null) heaps(q) = new QueryHeap(p.k)
          val heap = heaps(q)
          val slots = p.queryTerms(q)
          var bound = 0L
          slots.foreach(bound += maxC(_))
          if (heap.n == p.k && bound < heap.kth) {
            effort.foreach(_.bucketsSkipped.add(1L)) // provably fruitless
          } else {
            val t0 = if (prof) System.nanoTime() else 0L
            val req = if (p.conjunctive) slots.length else 0
            val nTouched = taat.score(slots, base, heap, req)
            effort.foreach { a =>
              scoreNs += System.nanoTime() - t0
              a.wandCalls.add(1L); a.docsScored.add(nTouched.toLong)
            }
          }
          qi += 1
        }
        x = i
        while (x < j) {
          val s = entry(x)
          if (s < nS) { bIdx(s) = null; bCs(s) = null; maxC(s) = 0L }
          x += 1
        }
      }
      while (i < j) { cur(entry(i)) += 1; i += 1 }
    }
    effort.foreach { a =>
      a.decodeNanos.add(decodeNs); a.contribNanos.add(contribNs)
      a.scoreNanos.add(scoreNs)
    }
    // one block per task: the heaps of the queries with a candidate here
    TopK.block(p.qids.map(_.toLong), heaps)
  }

  /** An OPENED index — the reference's LoadIndex analog
    * (`src/index_ivfpq.cpp:326-348`): meta is read once, and the
    * segments/stats scans are ANALYZED once (parquet file listing +
    * schema resolution are driver-side serial work; re-doing them per
    * query batch was ~0.3-0.5 s of the measured ~2 s serial section of
    * the batched query path). Query batches against a handle pay only
    * their own term-stats lookup + the scoring job.
    *
    * `served` is the serving cache of a doc-partitioned index opened
    * with `cacheServing`: one persisted [[ServingPart]] per partition,
    * which a cached batch scores with no Catalyst plan, restriction or
    * shuffle of its own. */
  final case class IndexHandle(dir: String, meta: IndexBuild.Meta,
                               segments: Dataset[PostingRow],
                               stats: DataFrame,
                               served: Option[RDD[ServingPart]] = None,
                               // the serving cache carries the attr
                               // sidecar's virtual filter lists (false for
                               // a sidecar written AFTER the open — then
                               // filtered batches bypass the cache)
                               attrsCached: Boolean = false) {
    /** Per-term (df, max_bucket) memo for the handle's lifetime — index
      * metadata, immutable once the index is open (stats/terms is part
      * of the build's commit), cached for the same reason openIndex
      * caches the serving layout: a serving process replays the same
      * hot query terms batch after batch, and the per-batch stats
      * lookup was a whole (tiny) Spark job. Terms ABSENT from the index
      * are memoized as None too — repeat misses are the common case for
      * out-of-vocabulary query words. Driver memory stays bounded by
      * the distinct terms actually queried (never the vocabulary). */
    private[QueryEngine] val termStatsMemo =
      new java.util.concurrent.ConcurrentHashMap[String, Option[(Long, Int)]]()
    /** The attr sidecar as this handle reads it, once: at open when the
      * serving cache folds it in, else at the handle's first filtered
      * batch — a cached filtered batch reads no file. */
    private[QueryEngine] val sidecarMemo =
      new java.util.concurrent.atomic.AtomicReference[Attrs.Sidecar]()
    private[QueryEngine] def sidecar(spark: SparkSession): Attrs.Sidecar = {
      if (sidecarMemo.get == null) sidecarMemo.compareAndSet(null, Attrs.readSidecar(spark, dir))
      sidecarMemo.get
    }
    /** Release the cached serving layout (no-op for uncached handles). */
    def close(): Unit = served.foreach(_.unpersist())
  }

  /** Open an index for querying. For a DOC-partitioned serving index the
    * handle caches the serving layout in executor memory (spilling to
    * disk) — the reference's LoadIndex-into-RAM serving shape, lists kept
    * by list number (`src/index_ivfpq.cpp:326-348`): the segments ∪
    * sidecar rows, shuffled by bucket and grouped into one
    * [[ServingPart]] per partition, blocks still encoded. The first
    * batch pays one scan+shuffle to materialize it; every later batch
    * scores straight from the cache, reading only its own terms' lists
    * by key. The shuffle is an RDD-level one (a `ShuffledRDD` keyed by
    * bucket), so the persisted RDD's lineage inside a batch's stage holds
    * no SQL operator. Without the cache, EVERY batch re-paid a full scan
    * + shuffle of the batch's posting mass (at bench scale: 627 MB
    * and the single worst-scaling stage of the whole query path, since
    * its cost is mostly fixed I/O wait, which the high-parallelism point
    * cannot speed up). Callers that query once should pass
    * `cacheServing = false`. */
  def openIndex(spark: SparkSession, dir: String,
                cacheServing: Boolean = true): IndexHandle = {
    val meta = IndexBuild.readMeta(spark, dir)
    val segments = IndexBuild.readSegments(spark, dir)
    val cache = cacheServing && meta.doc_partitioned
    // An attribute sidecar (virtual filter lists, [[Attrs]]) loads into
    // the SAME cache: filter rows bucket like postings and are tiny beside
    // them (one docId per doc per attr vs one posting per token), so
    // filtered batches serve from memory too. Unfiltered batches never
    // read them.
    val sidecar =
      if (cache && Attrs.hasAttrs(spark, dir)) Some(Attrs.readSidecar(spark, dir)) else None
    val served = if (!cache) None else {
      val rows = sidecar.fold(segments)(sc => segments.union(sc.rows)).rdd.keyBy(_.bucket)
      val nParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      // Kryo for this one shuffle of posting objects: under Java
      // serialization the cache-filling first batch took twice as long
      Some(new ShuffledRDD[Int, PostingRow, PostingRow](rows, new HashPartitioner(nParts))
        .setSerializer(new KryoSerializer(spark.sparkContext.getConf))
        .mapPartitions(it => Iterator.single(ServingPart(it.map(_._2))))
        .setName(s"serving layout $dir")
        .persist(StorageLevel.MEMORY_AND_DISK))
    }
    val h = IndexHandle(dir, meta, segments, IndexBuild.readTermStats(spark, dir),
      served, attrsCached = sidecar.isDefined)
    sidecar.foreach(h.sidecarMemo.set)
    h
  }

  /** End-to-end: query a disk index once, through [[runOnHandle]] on an
    * uncached handle. */
  def runOnIndex(spark: SparkSession, dir: String,
                 queries: Seq[(Int, Seq[String])] = QuerySet.queryTerms,
                 k: Int = QuerySet.K,
                 effort: Option[EffortAccs] = None,
                 conjunctive: Boolean = false,
                 filter: Option[(String, Seq[String])] = None,
                 rangeFilter: Option[(String, Double, Double)] = None): DataFrame =
    // query-once entry point: a serving cache would never be reused (and
    // never released) — open uncached
    runOnHandle(spark, openIndex(spark, dir, cacheServing = false),
      queries, k, effort, conjunctive, filter, rangeFilter)

  /** One query batch against an opened index (load once, query many —
    * the reference's test-harness shape). The handle's cache, when it can
    * answer the batch (no filter, or it holds the sidecar's lists), goes
    * straight to [[runDocPartitioned]]: no Catalyst plan, no restriction,
    * no shuffle — one job of one stage. Otherwise: (1) source — the
    * segments ([[prunedPartIds]] narrows a term-partitioned index)
    * unioned with the sidecar's filter lists when a filter is on; (2)
    * [[restrictToPlan]], the one storage-pruning step; (3)
    * [[rebucketByRange]] for term-partitioned segments, the one source
    * not docId-range bucketed already; (4) [[servingParts]] and
    * [[runDocPartitioned]].
    *
    * `filter = Some((attr, values))` restricts results to docs whose
    * persisted attribute (an [[Attrs]] sidecar next to the index) is IN
    * `values`, `rangeFilter` to docs whose numeric attribute lies in
    * [lo, hi] — BM25 stats stay corpus-global, only candidacy changes. A
    * predicate on an attribute the sidecar does not hold is refused. */
  def runOnHandle(spark: SparkSession, h: IndexHandle,
                  queries: Seq[(Int, Seq[String])] = QuerySet.queryTerms,
                  k: Int = QuerySet.K,
                  effort: Option[EffortAccs] = None,
                  conjunctive: Boolean = false,
                  filter: Option[(String, Seq[String])] = None,
                  rangeFilter: Option[(String, Double, Double)] = None): DataFrame = {
    import spark.implicits._
    require(filter.isEmpty || rangeFilter.isEmpty,
      "one attribute predicate per batch: pass filter (IN) or rangeFilter " +
        "(BETWEEN), not both")
    // `attr IN ()` matches NOTHING (Oracle.topkFiltered's zero-arg isin is
    // identically false) — it must not degrade to "no filter", which is
    // what empty filterTerms would silently mean downstream. An empty
    // RANGE (lo > hi) needs no special case: it selects zero virtual
    // lists, so no bucket has a filter row and every bucket is skipped.
    def noHits = HitsRelation.toDF(spark, TopK.emptyBlock)
    if (filter.exists(_._2.isEmpty)) return noHits
    val sidecar = filter.map(_._1).orElse(rangeFilter.map(_._1)).map { a =>
      val sc = h.sidecar(spark)
      sc.requireAttr(a)
      sc
    }
    val meta = h.meta
    val qTerms = queries.flatMap(_._2).distinct
    // df + salting lookup restricted to query terms — filter pushed to
    // the parquet scan of the (vocab-sized) stats table; results memoized
    // on the handle (immutable index metadata), so a batch whose terms
    // were all seen before skips the lookup job entirely.
    val missing = qTerms.filterNot(h.termStatsMemo.containsKey)
    if (missing.nonEmpty) {
      val found = h.stats
        .where($"term".isin(missing: _*))
        .select($"term", $"df", $"max_bucket")
        .as[(String, Long, Int)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      missing.foreach(t => h.termStatsMemo.put(t, found.get(t)))
    }
    val memod = qTerms.flatMap(t =>
      h.termStatsMemo.get(t).map(v => t -> v))
    val termDf = memod.map { case (t, v) => (t, v._1) }.toMap
    val termMaxBucket = memod.map { case (t, v) => (t, v._2) }.toMap
    val cs = CorpusStats(meta.n_docs, meta.n_tokens, meta.max_doc_id)
    val fTerms = filter.toSeq.flatMap { case (a, vs) => vs.map(Attrs.filterTerm(a, _)) }
    val p = plan(cs, termDf, queries, k, conjunctive)
      .copy(bucketWidth = meta.bucket_width, filterTerms = fTerms,
        filterRange = rangeFilter)
    // a batch none of whose terms the index holds has no hits: no job
    if (p.qids.isEmpty) return noHits
    val parts = h.served.filter(_ => sidecar.isEmpty || h.attrsCached).getOrElse {
      val segs =
        if (meta.doc_partitioned) h.segments
        else prunedPartIds(meta, termMaxBucket, queries)
          .fold(h.segments)(ids => h.segments.where($"part_id".isin(ids: _*)))
      val restricted = restrictToPlan(sidecar.fold(segs)(sc => segs.union(sc.rows)), p)
      servingParts(
        if (meta.doc_partitioned) restricted
        else rebucketByRange(restricted, meta.bucket_width, meta.block_size))
    }
    runDocPartitioned(spark, parts, p, effort)
  }
}
