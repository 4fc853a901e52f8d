package graft

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.util.LongAccumulator

/** Bounded top-k under the frozen total order (score DESC, id ASC) — the
  * graft of the reference's `partial_sort` top-k
  * (`src/index_ivf.cpp:220-234`, SURVEY.md §2.6 T2) — and the one top-k
  * merge of every ranked result: each task fills one bounded
  * [[QueryHeap]] per query, emits them as one [[Block]], and one
  * `runJob` merges the blocks ([[mergeAll]]). The batched BM25
  * scorer fills its heaps itself; every other ranked result (the heap
  * oracle, the ANN and PQ paths, the exact rerank) hands its
  * `(qid, id, score)` rows to [[topk]]. Per-query state is O(k)
  * whatever the group size: no full sort, no shuffle.
  *
  * Because the order is TOTAL (integer score, then id) the merged top-k
  * set is unique — merge order and tree shape cannot change results.
  */
object TopK {
  final case class Cand(doc_id: Long, score_micro: Long)

  /** Carried per-query top-k: a sorted prefix of length `n` maintained by
    * shift-insert (k is small). The batched scorer SEEDS its selection
    * with this state, which (a) makes the cross-bucket merge free —
    * offering into the carried heap IS the merge — and (b) turns the
    * carried k-th score into a θ floor every scorer path can reject
    * against with one compare. Exactness: a doc rejected by `offer` has
    * (score, doc) strictly dominated by the current k-th, and the final
    * k-th only rises, so the reject can never exclude a true top-k member
    * (the reference's partial_sort + threshold argument,
    * `src/index_ivf.cpp:220-234`). */
  final class QueryHeap(val k: Int) {
    val hScore = new Array[Long](k)
    val hDoc = new Array[Long](k)
    var n = 0
    /** Current k-th score — the θ floor (MinValue until the heap fills). */
    def kth: Long = if (n == k) hScore(k - 1) else Long.MinValue
    /** TIGHT θ floor: when the heap is full and every doc still to be
      * offered has doc_id ≥ base > hDoc(k-1), a tie on the k-th score can
      * never be accepted under the frozen (score DESC, doc_id ASC) order
      * (the tie-breaker needs a SMALLER doc_id), so acceptance reduces to
      * the single strict compare `s > kth`. Stays valid THROUGHOUT an
      * ascending-docId offer sequence: each accepted doc is ≥ base and
      * < every later candidate, so hDoc(k-1) remains below the next
      * candidate — callers must offer docs in ascending order. */
    def tightFloorFor(base: Long): Boolean = n == k && base > hDoc(k - 1)
    def offer(s: Long, d: Long): Unit = {
      if (n == k && (s < hScore(n - 1) ||
          (s == hScore(n - 1) && d > hDoc(n - 1)))) return
      var pos = if (n < k) n else n - 1
      while (pos > 0 && (hScore(pos - 1) < s ||
          (hScore(pos - 1) == s && hDoc(pos - 1) > d))) {
        if (pos < k) { hScore(pos) = hScore(pos - 1); hDoc(pos) = hDoc(pos - 1) }
        pos -= 1
      }
      hScore(pos) = s; hDoc(pos) = d
      if (n < k) n += 1
    }
    def toCands: Seq[Cand] = (0 until n).map(i => Cand(hDoc(i), hScore(i)))
  }

  /** Per-query top-k lists of a query batch in CSR form: query `qids(i)`
    * owns `docs`/`scores` slots `off(i) until off(i + 1)`, best-first,
    * at most k of them. `qids` is strictly ascending. Immutable once
    * built, so [[merge]] may return either input as is. */
  final class Block(val qids: Array[Long], val off: Array[Int],
                    val docs: Array[Long], val scores: Array[Long]) extends Serializable {
    def isEmpty: Boolean = qids.isEmpty
    /** Query slot `i`'s list. */
    def cands(i: Int): Seq[Cand] =
      (off(i) until off(i + 1)).map(j => Cand(docs(j), scores(j)))
    /** Every list's entries in (qid, rank) order, as `row(qid, rank, doc,
      * score)` with rank 1-based. */
    def ranked[T](row: (Long, Int, Long, Long) => T): IndexedSeq[T] =
      qids.indices.flatMap(i => (off(i) until off(i + 1)).map(j =>
        row(qids(i), j - off(i) + 1, docs(j), scores(j))))
  }

  val emptyBlock: Block = new Block(Array.empty, Array(0), Array.empty, Array.empty)

  /** The block of `heaps(i)` as query `qids(i)`'s list (`qids`
    * ascending); a null or empty heap is left out. */
  def block(qids: Array[Long], heaps: Array[QueryHeap]): Block = {
    val live = qids.indices.filter(i => heaps(i) != null && heaps(i).n > 0)
    val off = live.scanLeft(0)(_ + heaps(_).n).toArray
    val docs = new Array[Long](off.last)
    val scores = new Array[Long](off.last)
    live.indices.foreach { j =>
      val h = heaps(live(j))
      System.arraycopy(h.hDoc, 0, docs, off(j), h.n)
      System.arraycopy(h.hScore, 0, scores, off(j), h.n)
    }
    new Block(live.map(qids).toArray, off, docs, scores)
  }

  /** Merge two blocks: a merge-join on `qids`; each output query runs
    * the classic merge step over its list on either side (empty when
    * the query is absent there), kept to k. The inputs must hold
    * disjoint doc sets per query (a doc is scored in exactly one docId
    * bucket, a row is read by exactly one task). Associative and
    * commutative, so any fold order or tree shape gives the same block. */
  def merge(a: Block, b: Block, k: Int): Block = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val (na, nb) = (a.qids.length, b.qids.length)
    val qids = new Array[Long](na + nb)
    val off = new Array[Int](na + nb + 1)
    val docs = new Array[Long](a.docs.length + b.docs.length)
    val scores = new Array[Long](docs.length)
    var i = 0; var j = 0; var q = 0; var o = 0
    while (i < na || j < nb) {
      val inA = i < na && (j >= nb || a.qids(i) <= b.qids(j))
      val inB = j < nb && (i >= na || b.qids(j) <= a.qids(i))
      var x = if (inA) a.off(i) else 0; val xe = if (inA) a.off(i + 1) else 0
      var y = if (inB) b.off(j) else 0; val ye = if (inB) b.off(j + 1) else 0
      var n = 0
      while (n < k && (x < xe || y < ye)) {
        val takeA = y >= ye || (x < xe && (a.scores(x) > b.scores(y) ||
          (a.scores(x) == b.scores(y) && a.docs(x) < b.docs(y))))
        if (takeA) { docs(o) = a.docs(x); scores(o) = a.scores(x); x += 1 }
        else { docs(o) = b.docs(y); scores(o) = b.scores(y); y += 1 }
        o += 1; n += 1
      }
      qids(q) = if (inA) a.qids(i) else b.qids(j)
      q += 1; off(q) = o
      if (inA) i += 1
      if (inB) j += 1
    }
    new Block(java.util.Arrays.copyOf(qids, q), java.util.Arrays.copyOf(off, q + 1),
      java.util.Arrays.copyOf(docs, o), java.util.Arrays.copyOf(scores, o))
  }

  /** Merge levels for `nTasks` blocks: 1 (the driver merges every block)
    * up to a fan-in of 64, else ⌈log₆₄ nTasks⌉. */
  def mergeDepth(nTasks: Int): Int = {
    var depth = 1
    var reach = 64L
    while (nTasks > reach) { depth += 1; reach *= 64 }
    depth
  }

  private final class Fold(k: Int, nanos: Option[LongAccumulator])
      extends ((TaskContext, Iterator[Block]) => Block) with Serializable {
    def step(a: Block, b: Block): Block = {
      val t0 = System.nanoTime()
      try merge(a, b, k) finally nanos.foreach(_.add(System.nanoTime() - t0))
    }
    def apply(ctx: TaskContext, it: Iterator[Block]): Block = it.foldLeft(emptyBlock)(step)
  }
  private final class FoldLevel(f: Fold) extends (Iterator[Block] => Iterator[Block]) with Serializable {
    def apply(it: Iterator[Block]): Iterator[Block] = Iterator.single(f(TaskContext.get(), it))
  }

  /** Merge per-task blocks in one job of [[mergeDepth]] levels, timing each
    * merge into `nanos`: a level above the first folds each task's blocks
    * and shuffles them into ⌈n/64⌉ partitions; the driver merges each last-
    * level task's block as it arrives. These task functions and QueryEngine's
    * are named classes: Spark parses a lambda's enclosing class file and
    * Java-serializes it, but passes a class instance through; on a cached
    * 1 000-query batch that was 36 % of the driver's samples (≈ 10 of 44 ms). */
  def mergeAll(blocks: RDD[Block], k: Int, nanos: Option[LongAccumulator] = None): Block = {
    val fold = new Fold(k, nanos)
    val last = (1 until mergeDepth(blocks.getNumPartitions)).foldLeft(blocks)((rdd, _) =>
      rdd.mapPartitions(new FoldLevel(fold)).coalesce((rdd.getNumPartitions + 63) / 64, shuffle = true))
    var acc = emptyBlock
    blocks.sparkContext.runJob(last, fold, last.partitions.indices,
      (_: Int, b: Block) => acc = fold.step(acc, b))
    acc
  }

  private final class Heaps(k: Int)
      extends (Iterator[(Long, Long, Long)] => Iterator[Block]) with Serializable {
    def apply(it: Iterator[(Long, Long, Long)]): Iterator[Block] = {
      val heaps = new scala.collection.mutable.LongMap[QueryHeap]
      it.foreach { case (q, id, s) => heaps.getOrElseUpdate(q, new QueryHeap(k)).offer(s, id) }
      val qids = heaps.keys.toArray.sorted
      Iterator.single(block(qids, qids.map(heaps)))
    }
  }

  /** The top-k per qid of `(qid, id, score)` rows under (score DESC,
    * id ASC): each task offers its rows into one [[QueryHeap]] per qid
    * and emits them as one block; [[mergeAll]] merges the blocks. A
    * (qid, id) pair must occur at most once. A double score rides as its
    * [[sortableBits]]. One job, O(k) state per qid per task; the result
    * is on the driver. */
  def topk(rows: RDD[(Long, Long, Long)], k: Int): Block =
    mergeAll(rows.mapPartitions(new Heaps(k)), k)

  /** Order-preserving bijection Double ↔ Long (the classic IEEE-754 sign
    * trick): signed-long comparison of the encoding == double comparison,
    * so a DOUBLE-scored row can ride the integer-keyed heap with zero
    * loss — encode before, decode after. */
  @inline def sortableBits(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & Long.MaxValue)
  }
  @inline def fromSortableBits(l: Long): Double =
    java.lang.Double.longBitsToDouble(l ^ ((l >> 63) & Long.MaxValue))
}
