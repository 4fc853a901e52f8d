package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The batched bucket scorer's three accumulation shapes (single-list
  * stream, dense tagged-add, sparse stamped scatter) against a naive
  * reference, INCLUDING the carried-heap seeding across buckets (the θ
  * floor): whatever shape the dispatch picks per (query, bucket), the
  * final heap must equal the frozen-order top-k over the union of all
  * buckets. Ties are forced (tiny contrib range), zero-micro contribs are
  * included (df≈N terms at huge N floor to 0 — the dense path's tag bits
  * exist exactly so those stay distinguishable from untouched slots). */
class BucketTaatSpec extends AnyFunSuite {

  /** Score one query over one bucket given by string-keyed lists: bind
    * the lists by slot (the order of the bucket's and the query's terms),
    * then score the query's slots. */
  private def scoreBucket(taat: QueryEngine.BucketTaat, queryTerms: Seq[String],
                          lists: Map[String, (Array[Int], Array[Long])], base: Long,
                          heap: TopK.QueryHeap, required: Int = 0): Int = {
    val terms = (lists.keys ++ queryTerms).toSeq.distinct
    taat.beginBucket(terms.map(lists.get(_).map(_._1).orNull).toArray,
      terms.map(lists.get(_).map(_._2).orNull).toArray)
    taat.score(queryTerms.map(terms.indexOf(_)).toArray, base, heap, required)
  }

  /** One random scenario: `nBuckets` buckets of `width` docs, a global
    * term universe with per-(term, bucket) posting lists, one query. */
  private def runScenario(rnd: Random, width: Int, k: Int, nBuckets: Int,
                          listLen: Int => Int): Unit = {
    val terms = (0 until (2 + rnd.nextInt(4))).map(i => s"t$i")
    val queryTerms = rnd.shuffle(terms).take(1 + rnd.nextInt(terms.size))
    // per bucket: term -> (sorted distinct doc idxs, contribs; 0 allowed)
    val buckets = (0 until nBuckets).map { b =>
      val lists = terms.flatMap { t =>
        if (rnd.nextDouble() < 0.15) None // term absent from this bucket
        else {
          val n = math.min(width, math.max(0, listLen(width)))
          val idxs = rnd.shuffle((0 until width).toList).take(n).sorted.toArray
          val cs = Array.fill(n)(rnd.nextInt(5).toLong) // ties + zeros
          Some(t -> (idxs, cs))
        }
      }.toMap
      (b.toLong * width, lists)
    }
    // naive: global candidate set = docs touched by >=1 present query list
    val naive = buckets.flatMap { case (base, lists) =>
      val acc = scala.collection.mutable.Map.empty[Long, Long]
      queryTerms.foreach { t =>
        lists.get(t).foreach { case (idxs, cs) =>
          idxs.indices.foreach { i =>
            val d = base + idxs(i)
            acc(d) = acc.getOrElse(d, 0L) + cs(i)
          }
        }
      }
      acc.toSeq
    }.sortBy { case (d, s) => (-s, d) }.take(k)
      .map { case (d, s) => TopK.Cand(d, s) }

    val taat = new QueryEngine.BucketTaat(width, k)
    val heap = new TopK.QueryHeap(k)
    buckets.foreach { case (base, lists) =>
      scoreBucket(taat, queryTerms, lists, base, heap)
    }
    assert(heap.toCands == naive,
      s"width=$width k=$k q=$queryTerms got=${heap.toCands} want=$naive")
  }

  test("scorer == naive across shapes (property, ties + zero contribs)") {
    val rnd = new Random(42)
    (0 until 300).foreach { i =>
      val width = 4 + rnd.nextInt(60)
      val k = 1 + rnd.nextInt(8)
      // rotate the list-length regime so the dispatch exercises all three
      // shapes: tiny lists (sparse), near-full lists (dense), and the
      // single-term draws above cover the single-list stream
      val lens: Int => Int = (i % 3) match {
        case 0 => w => rnd.nextInt(math.max(1, w / 4))          // sparse
        case 1 => w => w - rnd.nextInt(math.max(1, w / 8))      // dense
        case _ => w => rnd.nextInt(w + 1)                       // mixed
      }
      runScenario(rnd, width, k, 1 + rnd.nextInt(4), lens)
    }
  }

  /** Conjunctive analog of [[runScenario]]: required = the query's full
    * distinct-term count; naive keeps only docs touched by EVERY query
    * term's list in their bucket (terms absent from a bucket exclude all
    * of that bucket's docs — per-bucket AND is global AND because a doc
    * lives in exactly one bucket). */
  private def runConjScenario(rnd: Random, width: Int, k: Int, nBuckets: Int,
                              listLen: Int => Int): Unit = {
    val terms = (0 until (2 + rnd.nextInt(4))).map(i => s"t$i")
    val queryTerms = rnd.shuffle(terms).take(1 + rnd.nextInt(terms.size))
    val m = queryTerms.size
    val buckets = (0 until nBuckets).map { b =>
      val lists = terms.flatMap { t =>
        if (rnd.nextDouble() < 0.15) None
        else {
          val n = math.min(width, math.max(0, listLen(width)))
          val idxs = rnd.shuffle((0 until width).toList).take(n).sorted.toArray
          val cs = Array.fill(n)(rnd.nextInt(5).toLong)
          Some(t -> (idxs, cs))
        }
      }.toMap
      (b.toLong * width, lists)
    }
    val naive = buckets.flatMap { case (base, lists) =>
      val acc = scala.collection.mutable.Map.empty[Long, (Long, Int)]
      queryTerms.foreach { t =>
        lists.get(t).foreach { case (idxs, cs) =>
          idxs.indices.foreach { i =>
            val d = base + idxs(i)
            val (s0, n0) = acc.getOrElse(d, (0L, 0))
            acc(d) = (s0 + cs(i), n0 + 1)
          }
        }
      }
      acc.collect { case (d, (s, n)) if n == m => (d, s) }.toSeq
    }.sortBy { case (d, s) => (-s, d) }.take(k)
      .map { case (d, s) => TopK.Cand(d, s) }

    val taat = new QueryEngine.BucketTaat(width, k)
    val heap = new TopK.QueryHeap(k)
    buckets.foreach { case (base, lists) =>
      scoreBucket(taat, queryTerms, lists, base, heap, required = m)
    }
    assert(heap.toCands == naive,
      s"CONJ width=$width k=$k q=$queryTerms got=${heap.toCands} want=$naive")
  }

  test("conjunctive scorer == naive AND across shapes (property)") {
    val rnd = new Random(1337)
    (0 until 300).foreach { i =>
      val width = 4 + rnd.nextInt(60)
      val k = 1 + rnd.nextInt(8)
      val lens: Int => Int = (i % 3) match {
        case 0 => w => rnd.nextInt(math.max(1, w / 4))          // sparse
        case 1 => w => w - rnd.nextInt(math.max(1, w / 8))      // dense
        case _ => w => rnd.nextInt(w + 1)                       // mixed
      }
      runConjScenario(rnd, width, k, 1 + rnd.nextInt(4), lens)
    }
  }

  test("carried θ floor never drops a true member (adversarial: rising k-th)") {
    // bucket 0 fills the heap with high scores; later buckets contain docs
    // exactly AT and just below the k-th — ties must survive by doc id
    val width = 8
    val k = 3
    val taat = new QueryEngine.BucketTaat(width, k)
    val heap = new TopK.QueryHeap(k)
    val t = "t"
    // bucket 0: scores 10, 9, 8 at docs 0,1,2
    scoreBucket(taat, Seq(t), Map(t -> (Array(0, 1, 2), Array(10L, 9L, 8L))), 0L, heap)
    assert(heap.kth == 8L)
    // bucket 1 (base 8): doc 8 scores 8 (tie with k-th, LARGER doc id —
    // must lose), doc 9 scores 9 (tie with 2nd, larger id — must slot
    // after doc 1), doc 10 scores 7 (below θ — rejected)
    scoreBucket(taat, Seq(t), Map(t -> (Array(0, 1, 2), Array(8L, 9L, 7L))), 8L, heap)
    assert(heap.toCands == Seq(TopK.Cand(0, 10), TopK.Cand(1, 9), TopK.Cand(9, 9)))
    // bucket 2 (base 16): doc 16 ties the NEW k-th (9) with smaller... no:
    // larger id — rejected; doc 17 beats everything
    scoreBucket(taat, Seq(t), Map(t -> (Array(0, 1), Array(9L, 11L))), 16L, heap)
    assert(heap.toCands == Seq(TopK.Cand(17, 11), TopK.Cand(0, 10), TopK.Cand(1, 9)))
  }

  test("dense tag bits: all-zero contribs are candidates, untouched slots are not") {
    val width = 4
    val k = 4
    val taat = new QueryEngine.BucketTaat(width, k)
    val heap = new TopK.QueryHeap(k)
    // two full-width lists (total=8 >= width → dense path), every contrib 0
    val lists = Map(
      "a" -> (Array(0, 1, 2, 3), Array(0L, 0L, 0L, 0L)),
      "b" -> (Array(0, 1, 2, 3), Array(0L, 0L, 0L, 0L)))
    scoreBucket(taat, Seq("a", "b"), lists, 0L, heap)
    // all four docs are genuine 0-score candidates, ordered by doc id
    assert(heap.toCands == (0 until 4).map(d => TopK.Cand(d.toLong, 0L)))
  }

  test("slot-keyed caches: two terms sharing one idxs array keep their own contributions") {
    // The dense-column and sorted-list caches are keyed by term slot. Here
    // slots 0 and 1 of every bucket share ONE idxs array instance with
    // different contributions; a cache keyed by the array's identity would
    // score the second term from the first term's column or sorted list.
    val rnd = new Random(7)
    (0 until 200).foreach { _ =>
      val width = 4 + rnd.nextInt(40)
      val k = 1 + rnd.nextInt(4)
      def list(n: Int) = rnd.shuffle((0 until width).toList).take(n).sorted.toArray
      val buckets = (0 until 2 + rnd.nextInt(3)).map { b =>
        // near-full lists, so multi-term queries take the dense path
        val shared = list(width - rnd.nextInt(math.max(1, width / 4)))
        val own = list(width - rnd.nextInt(math.max(1, width / 4)))
        (b.toLong * width, Array(shared, shared, own),
          Array(Array.fill(shared.length)(rnd.nextInt(10).toLong),
            Array.fill(shared.length)(10L + rnd.nextInt(10)),
            Array.fill(own.length)(rnd.nextInt(20).toLong)))
      }
      val queries = Seq(Array(0), Array(1), Array(0, 2), Array(1, 2), Array(0, 1), Array(1, 0, 2))
      val taat = new QueryEngine.BucketTaat(width, k)
      val heaps = queries.map(_ => new TopK.QueryHeap(k))
      buckets.foreach { case (base, idxs, cs) =>
        taat.beginBucket(idxs, cs)
        queries.zip(heaps).foreach { case (q, h) => taat.score(q, base, h) }
      }
      queries.zip(heaps).foreach { case (q, h) =>
        val naive = buckets.flatMap { case (base, idxs, cs) =>
          val acc = scala.collection.mutable.Map.empty[Long, Long]
          q.foreach(s => idxs(s).indices.foreach { i =>
            val d = base + idxs(s)(i)
            acc(d) = acc.getOrElse(d, 0L) + cs(s)(i)
          })
          acc.toSeq
        }.sortBy { case (d, s) => (-s, d) }.take(k).map { case (d, s) => TopK.Cand(d, s) }
        assert(h.toCands == naive, s"width=$width k=$k q=${q.toSeq}")
      }
    }
  }

  // --- the end-to-end scoring path, pure JVM: posting rows (salted
  // multi-bucket head rows, blockSize 8) → row re-bucketing → the
  // per-partition body of runDocPartitioned → cross-partition block merge,
  // against an exhaustive scorer. Mirrors the reference's synthetic
  // self-check (`tests/test_ivf.cpp:27-108`), seeded for determinism
  // (reference precedent seed=123).

  private def buildLists(corpus: Map[Long, Seq[String]], terms: Seq[String],
                         nDocs: Long, bucketWidth: Long, headDf: Long)
      : (Map[String, (Double, Seq[PostingRow])], Double) = {
    val dl = corpus.map { case (d, toks) => d -> toks.length.toLong }
    val avgdl = dl.values.sum.toDouble / nDocs
    val lists = terms.flatMap { t =>
      val postings = corpus.toSeq
        .map { case (d, toks) => (d, toks.count(_ == t).toLong) }
        .filter(_._2 > 0).sortBy(_._1)
      if (postings.isEmpty) None
      else {
        val df = postings.length.toLong
        val idf = Bm25.idf(nDocs, df)
        val rows =
          if (df > headDf)
            postings.groupBy(p => (p._1 / bucketWidth).toInt).toSeq.sortBy(_._1)
              .map { case (b, ps) =>
                val blocks = Codec.encodeBlocks(
                  ps.map(_._1).toArray, ps.map(_._2.toInt).toArray,
                  ps.map(p => dl(p._1).toInt).toArray, blockSize = 8)
                PostingRow(0, t, b, ps.length.toLong, ps.map(_._2).sum, ps.head._1, blocks)
              }
          else {
            val blocks = Codec.encodeBlocks(
              postings.map(_._1).toArray, postings.map(_._2.toInt).toArray,
              postings.map(p => dl(p._1).toInt).toArray, blockSize = 8)
            Seq(PostingRow(0, t, 0, postings.length.toLong, postings.map(_._2).sum,
              postings.head._1, blocks))
          }
        Some(t -> (idf, rows))
      }
    }.toMap
    (lists, avgdl)
  }

  /** Exhaustive reference: decode every posting, sum micros per doc, take
    * the frozen-order top-k of the `admitted` docs; `conj` keeps only docs
    * in every list. */
  private def naiveTopk(lists: Map[String, (Double, Seq[PostingRow])],
                        avgdl: Double, k: Int, admitted: Long => Boolean = _ => true,
                        conj: Boolean = false): Seq[TopK.Cand] = {
    val acc = scala.collection.mutable.LongMap.empty[(Long, Int)]
    lists.foreach { case (_, (idf, rows)) =>
      rows.foreach(row => Codec.decodeAll(row).foreach { p =>
        val (s, n) = acc.getOrElse(p.doc_id, (0L, 0))
        acc(p.doc_id) = (s + Bm25.contribMicro(idf, p.tf, p.dl, avgdl), n + 1)
      })
    }
    acc.toSeq.collect { case (d, (s, n)) if admitted(d) && (!conj || n == lists.size) => (d, s) }
      .sortBy { case (d, s) => (-s, d) }.take(k)
      .map { case (d, s) => TopK.Cand(d, s) }
  }

  /** One query through the serving path: re-bucket every row at `width`,
    * spread the buckets over `nParts` partitions, score each partition
    * with the runDocPartitioned body, merge the blocks with its merge.
    * `filterRows` (already bucketed at `width`) ride beside the postings,
    * and `filterTerms` are the ones the plan requests. */
  private def scored(qid: Int, lists: Map[String, (Double, Seq[PostingRow])],
                     avgdl: Double, k: Int, width: Int, nParts: Int,
                     rnd: Random, filterRows: Seq[PostingRow] = Nil,
                     filterTerms: Seq[String] = Nil,
                     conj: Boolean = false): Seq[TopK.Cand] = {
    val terms = lists.keys.toArray
    val plan = QueryEngine.Plan(k, avgdl, terms, idf = terms.map(lists(_)._1),
      qids = Array(qid), queryTerms = Array(terms.indices.toArray),
      termQueries = terms.map(_ => Array(0)), bucketWidth = width.toLong,
      conjunctive = conj, filterTerms = filterTerms)
    val rows = lists.values.flatMap(_._2)
      .flatMap(QueryEngine.rebucketRow(_, width.toLong, blockSize = 8)).toSeq ++ filterRows
    val top = rows.groupBy(_.bucket % nParts).values
      .map(part => QueryEngine.scorePartition(plan,
        QueryEngine.ServingPart(rnd.shuffle(part).iterator), None))
      .foldLeft(TopK.emptyBlock)(TopK.merge(_, _, k))
    assert(top.qids.forall(_ == qid))
    if (top.isEmpty) Seq.empty else top.cands(0)
  }

  test("rebucket + partition scorer == naive exhaustive top-k on 200 random corpora") {
    val rnd = new Random(123)
    val vocab = ('a' to 'z').map(_.toString)
    for (trial <- 1 to 200) {
      val nDocs = 20 + rnd.nextInt(180)
      val corpus = (0L until nDocs.toLong).map { d =>
        val len = 1 + rnd.nextInt(30)
        // Zipf-ish: low letters much more likely
        d -> Seq.fill(len)(vocab(math.min(rnd.nextInt(26), rnd.nextInt(26))))
      }.toMap
      val qTerms = rnd.shuffle(vocab).take(1 + rnd.nextInt(5))
      val (lists, avgdl) = buildLists(corpus, qTerms, nDocs.toLong,
        bucketWidth = 16, headDf = 30)
      if (lists.nonEmpty) {
        val k = 1 + rnd.nextInt(15)
        // serving geometry from a per-trial stream, so the corpora stay
        // the seed-123 sequence: widths below, at and above the salting
        // width make salted rows pass through and straddling rows split
        val geo = new Random(trial)
        val width = 1 + geo.nextInt(48)
        val nParts = 1 + geo.nextInt(3)
        val got = scored(trial, lists, avgdl, k, width, nParts, geo)
        val naive = naiveTopk(lists, avgdl, k)
        assert(got == naive, s"trial $trial k=$k width=$width parts=$nParts qTerms=$qTerms")
      }
    }
  }

  /** Virtual filter lists of attr `lang` at serving `width`: one row per
    * (value, bucket) holding that value's docs, as [[Attrs.attrPostings]]
    * writes them. */
  private def filterRows(values: Map[Long, String], width: Int): Seq[PostingRow] =
    values.groupBy { case (d, v) => (v, (d / width).toInt) }.toSeq.map { case ((v, b), ds) =>
      val ids = ds.keys.toArray.sorted
      val ones = Array.fill(ids.length)(1)
      PostingRow(0, Attrs.filterTerm("lang", v), b, ids.length.toLong, 0L, ids(0),
        Codec.encodeBlocks(ids, ones, ones, blockSize = 8))
    }

  test("filtered rebucket + partition scorer == naive top-k of admitted docs, OR and AND") {
    // The filter narrows each bucket's term lists before scoring: a random
    // admitted set (share 0-1, so some buckets admit none) split over two
    // requested values, every other doc under an unrequested one; widths
    // 1-64 put several buckets in one part, sharing one reused mark array.
    val rnd = new Random(2024)
    val vocab = ('a' to 'z').map(_.toString)
    var nonEmpty = 0
    for (trial <- 1 to 200) {
      val nDocs = 20 + rnd.nextInt(180)
      val corpus = (0L until nDocs.toLong).map { d =>
        val len = 1 + rnd.nextInt(30)
        d -> Seq.fill(len)(vocab(math.min(rnd.nextInt(26), rnd.nextInt(26))))
      }.toMap
      val qTerms = rnd.shuffle(vocab).take(1 + rnd.nextInt(5))
      val (lists, avgdl) = buildLists(corpus, qTerms, nDocs.toLong,
        bucketWidth = 16, headDf = 30)
      val share = rnd.nextDouble()
      val values = (0L until nDocs.toLong).map { d =>
        d -> (if (rnd.nextDouble() >= share) "other" else if (rnd.nextBoolean()) "x" else "y")
      }.toMap
      val admitted = (d: Long) => values(d) != "other"
      val k = 1 + rnd.nextInt(15)
      val width = 1 + rnd.nextInt(64)
      val nParts = 1 + rnd.nextInt(3)
      if (lists.nonEmpty) {
        nonEmpty += 1
        Seq(false, true).foreach { conj =>
          val got = scored(trial, lists, avgdl, k, width, nParts, new Random(trial),
            filterRows(values, width), Seq("x", "y").map(Attrs.filterTerm("lang", _)), conj)
          val naive = naiveTopk(lists, avgdl, k, admitted, conj)
          assert(got == naive, s"trial $trial conj=$conj k=$k width=$width " +
            s"parts=$nParts share=$share qTerms=$qTerms")
        }
      }
    }
    assert(nonEmpty > 150, s"only $nonEmpty trials had an indexed query term")
  }

  test("exhausted/empty cases: no rows and absent terms score nothing") {
    assert(scored(1, Map.empty, 10.0, 5, width = 16, nParts = 1, new Random(1)).isEmpty)
    val plan = QueryEngine.Plan(5, 10.0, Array("a"), Array(1.0), Array(1), Array(Array(0)),
      Array(Array(0)), bucketWidth = 16)
    assert(QueryEngine.scorePartition(plan, QueryEngine.ServingPart(Iterator.empty), None).isEmpty)
  }
}
