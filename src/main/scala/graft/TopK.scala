package graft

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k under the frozen total order (score_micro DESC, doc_id
  * ASC) — the graft of the reference's `partial_sort` top-k
  * (`src/index_ivf.cpp:220-234`, SURVEY.md §2.6 T2), as per-task
  * [[Block]]s merged through `treeAggregate` (the batched scorer), or as
  * the [[Agg]] `Aggregator` (the grouped oracle and ANN paths): per-query
  * state is O(k) regardless of group size — no full sort, no window
  * shuffle of all candidates.
  *
  * Because the order is TOTAL (integer score, then doc_id) the merged
  * top-k set is unique — partial-aggregation order cannot change results.
  */
object TopK {
  final case class Cand(doc_id: Long, score_micro: Long)

  /** true iff a is strictly better than b under (score DESC, doc_id ASC). */
  @inline def better(a: Cand, b: Cand): Boolean =
    a.score_micro > b.score_micro ||
      (a.score_micro == b.score_micro && a.doc_id < b.doc_id)

  /** Merge two sorted-best-first lists, keep k (classic merge step). */
  def mergeTopK(a: Seq[Cand], b: Seq[Cand], k: Int): Seq[Cand] = {
    val out = Vector.newBuilder[Cand]
    var i = 0; var j = 0; var n = 0
    while (n < k && (i < a.length || j < b.length)) {
      val takeA = j >= b.length || (i < a.length && better(a(i), b(j)))
      if (takeA) { out += a(i); i += 1 } else { out += b(j); j += 1 }
      n += 1
    }
    out.result()
  }

  /** Insert into a sorted-best-first bounded list. O(k) per insert — fine
    * for k=10; swap for a binary heap if k grows. */
  def insert(buf: Seq[Cand], c: Cand, k: Int): Seq[Cand] = {
    if (buf.length >= k && !better(c, buf.last)) buf
    else {
      val idx = buf.indexWhere(x => better(c, x)) match {
        case -1 => buf.length
        case i  => i
      }
      (buf.take(idx) :+ c) ++ buf.drop(idx).take(k - idx - 1)
    }
  }

  final class Agg[K](k: Int) extends Aggregator[(K, Cand), Seq[Cand], Seq[Cand]] {
    def zero: Seq[Cand] = Vector.empty
    def reduce(buf: Seq[Cand], in: (K, Cand)): Seq[Cand] = insert(buf, in._2, k)
    def merge(a: Seq[Cand], b: Seq[Cand]): Seq[Cand] = mergeTopK(a, b, k)
    def finish(r: Seq[Cand]): Seq[Cand] = r
    def bufferEncoder: Encoder[Seq[Cand]] = ExpressionEncoder[Seq[Cand]]()
    def outputEncoder: Encoder[Seq[Cand]] = ExpressionEncoder[Seq[Cand]]()
  }

  /** Per-query top-k lists of a query batch in CSR form: query `qids(i)`
    * owns `docs`/`scores` slots `off(i) until off(i + 1)`, best-first,
    * at most k of them. `qids` is strictly ascending. Immutable once
    * built, so [[merge]] may return either input as is. */
  final class Block(val qids: Array[Int], val off: Array[Int],
                    val docs: Array[Long], val scores: Array[Long]) extends Serializable {
    def isEmpty: Boolean = qids.isEmpty
    /** Query slot `i`'s list. */
    def cands(i: Int): Seq[Cand] =
      (off(i) until off(i + 1)).map(j => Cand(docs(j), scores(j)))
  }

  val emptyBlock: Block = new Block(Array.empty, Array(0), Array.empty, Array.empty)

  /** Merge two blocks: a merge-join on `qids`; each output query runs
    * the classic merge step over its list on either side (empty when
    * the query is absent there), kept to k. The inputs must hold
    * disjoint doc sets per query (a doc is scored in exactly one docId
    * bucket). Associative and commutative, so any fold order or tree
    * shape gives the same block. */
  def merge(a: Block, b: Block, k: Int): Block = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val (na, nb) = (a.qids.length, b.qids.length)
    val qids = new Array[Int](na + nb)
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

  /** Order-preserving bijection Double ↔ Long (the classic IEEE-754 sign
    * trick): signed-long comparison of the encoding == double comparison,
    * so a DOUBLE-scored candidate set can ride the integer-keyed [[Cand]]
    * heap with zero loss — encode before, decode after. */
  @inline def sortableBits(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & Long.MaxValue)
  }
  @inline def fromSortableBits(l: Long): Double =
    java.lang.Double.longBitsToDouble(l ^ ((l >> 63) & Long.MaxValue))
}
