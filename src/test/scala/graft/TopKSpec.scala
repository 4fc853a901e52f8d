package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Bounded top-k structure: heap offers, block merges and the rows entry
  * equal full-sort truncation under the frozen total order (score DESC,
  * doc_id ASC). */
class TopKSpec extends AnyFunSuite {
  import TopK._

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private def sortAll(cs: Seq[Cand]): Seq[Cand] =
    cs.sortBy(c => (-c.score_micro, c.doc_id))

  /** true iff a is strictly better than b under (score DESC, doc_id ASC). */
  private def better(a: Cand, b: Cand): Boolean =
    a.score_micro > b.score_micro ||
      (a.score_micro == b.score_micro && a.doc_id < b.doc_id)

  /** Merge two sorted-best-first lists, keep k: the classic merge step,
    * the reference [[merge]] is checked against. */
  private def mergeTopK(a: Seq[Cand], b: Seq[Cand], k: Int): Seq[Cand] = {
    val out = Vector.newBuilder[Cand]
    var i = 0; var j = 0; var n = 0
    while (n < k && (i < a.length || j < b.length)) {
      val takeA = j >= b.length || (i < a.length && better(a(i), b(j)))
      if (takeA) { out += a(i); i += 1 } else { out += b(j); j += 1 }
      n += 1
    }
    out.result()
  }

  private val candGen: Gen[Cand] = for {
    d <- Gen.choose(0L, 50L)
    s <- Gen.choose(0L, 20L) // small ranges force ties
  } yield Cand(d, s)

  private val candsGen: Gen[List[Cand]] = Gen.listOf(candGen).map(_.distinctBy(_.doc_id))

  test("QueryHeap.offer keeps exactly the k best (property, with ties)") {
    check(Prop.forAll(candsGen, Gen.choose(1, 12)) { (cs, k) =>
      val heap = new QueryHeap(k)
      cs.foreach(c => heap.offer(c.score_micro, c.doc_id))
      heap.toCands == sortAll(cs).take(k)
    })
  }

  test("merge == global top-k of the union (property)") {
    check(Prop.forAll(candsGen, candsGen, Gen.choose(1, 12)) { (as0, bs0, k) =>
      // make doc ids disjoint between the two sides
      val as = as0.map(c => c.copy(doc_id = c.doc_id * 2))
      val bs = bs0.map(c => c.copy(doc_id = c.doc_id * 2 + 1))
      val ta = sortAll(as).take(k)
      val tb = sortAll(bs).take(k)
      mergeTopK(ta, tb, k) == sortAll(as ++ bs).take(k)
    })
  }

  /** Per-task blocks over disjoint doc sets: 0–6 blocks, each holding a
    * random subset of 8 qids (possibly none), each list the true top-k of
    * its random cands (ties on small scores). */
  private val blocksGen: Gen[(Int, Seq[Map[Long, Seq[Cand]]])] = for {
    k <- Gen.choose(1, 12)
    nBlocks <- Gen.choose(0, 6)
    blocks <- Gen.listOfN(nBlocks, Gen.mapOf(Gen.zip(Gen.choose(0L, 7L),
      Gen.nonEmptyListOf(candGen))))
  } yield (k, blocks.zipWithIndex.map { case (m, bi) =>
    m.map { case (q, cs) =>
      // doc ids disjoint across blocks: a doc is scored in one task only
      q -> sortAll(cs.map(c => c.copy(doc_id = c.doc_id * 8 + bi))
        .distinctBy(_.doc_id)).take(k)
    }
  })

  private def toBlock(m: Map[Long, Seq[Cand]]): Block = {
    val qs = m.keys.toArray.sorted
    val lists = qs.map(m)
    new Block(qs, lists.scanLeft(0)(_ + _.length),
      lists.flatMap(_.map(_.doc_id)), lists.flatMap(_.map(_.score_micro)))
  }

  private def fromBlock(b: Block): Map[Long, Seq[Cand]] =
    b.qids.indices.map(i => b.qids(i) -> b.cands(i)).toMap

  /** Merge in a random tree shape: split at a random point, merge halves. */
  private def mergeTree(bs: Seq[Block], k: Int, rnd: scala.util.Random): Block =
    if (bs.isEmpty) emptyBlock
    else if (bs.length == 1) bs.head
    else {
      val cut = 1 + rnd.nextInt(bs.length - 1)
      merge(mergeTree(bs.take(cut), k, rnd), mergeTree(bs.drop(cut), k, rnd), k)
    }

  test("block merge in any order or grouping == mergeTopK reference (property)") {
    check(Prop.forAll(blocksGen, Gen.long) { case ((k, blocks), seed) =>
      val want = blocks.flatMap(_.toSeq).groupBy(_._1).map { case (q, xs) =>
        q -> xs.map(_._2).foldLeft(Seq.empty[Cand])(mergeTopK(_, _, k))
      }
      val rnd = new scala.util.Random(seed)
      val got = mergeTree(rnd.shuffle(blocks.map(toBlock)), k, rnd)
      val folded = blocks.map(toBlock).foldLeft(emptyBlock)(merge(_, _, k))
      got.qids.toSeq == got.qids.toSeq.sorted.distinct &&
        got.off.length == got.qids.length + 1 &&
        fromBlock(got) == want && fromBlock(folded) == want
    })
  }

  /** (k, rows spread over partitions): qids low, around Int.MaxValue and
    * at Long.MaxValue; scores small (ties) or the sortableBits of doubles
    * of both signs (negative encodings); each (qid, id) pair once; 1–6
    * partitions, each row in a random one, so some are empty. */
  private val rowsGen: Gen[(Int, Seq[Seq[(Long, Long, Long)]])] = for {
    k <- Gen.choose(1, 12)
    rows <- Gen.listOf(for {
      q <- Gen.oneOf(Gen.choose(0L, 4L),
        Gen.choose(Int.MaxValue - 1L, Int.MaxValue + 2L), Gen.const(Long.MaxValue))
      id <- Gen.choose(0L, 40L)
      s <- Gen.oneOf(Gen.choose(-5L, 5L),
        Gen.oneOf(-2.5, -1.0, -0.0, 0.0, 0.75, 3.0).map(sortableBits))
    } yield (q, id, s))
    nParts <- Gen.choose(1, 6)
    where <- Gen.listOfN(rows.length, Gen.choose(0, nParts - 1))
  } yield {
    val distinct = rows.distinctBy(r => (r._1, r._2))
    val placed = distinct.zip(where)
    (k, (0 until nParts).map(p => placed.collect { case (r, `p`) => r }))
  }

  test("topk over (qid, id, score) rows == sort-all reference (property, Spark)") {
    val sc = TestSpark.spark.sparkContext
    check(Prop.forAll(rowsGen) { case (k, parts) =>
      val want = parts.flatten.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, rs) =>
        rs.sortWith((a, b) => a._3 > b._3 || (a._3 == b._3 && a._2 < b._2)).take(k)
          .zipWithIndex.map { case ((_, id, s), i) => (q, i + 1, id, s) }
      }
      val got = topk(sc.parallelize(parts, parts.length).flatMap(identity), k)
      got.ranked((q, rank, id, s) => (q, rank, id, s)) == want
    })
  }

  /** (k, blocks of `nParts` partitions): one partition holds 1–2 blocks,
    * more hold 0–2 each, so some are empty. Doc ids are disjoint across
    * all blocks. */
  private def partsGen(nParts: Int): Gen[(Int, Seq[Seq[Block]])] = for {
    k <- Gen.choose(1, 12)
    perPart <- Gen.listOfN(nParts, Gen.choose(if (nParts == 1) 1 else 0, 2))
    maps <- Gen.listOfN(perPart.sum, Gen.mapOf(Gen.zip(Gen.choose(0L, 7L),
      Gen.nonEmptyListOf(candGen))))
  } yield {
    val blocks = maps.zipWithIndex.map { case (m, bi) =>
      toBlock(m.map { case (q, cs) =>
        q -> sortAll(cs.map(c => c.copy(doc_id = c.doc_id * maps.length + bi))
          .distinctBy(_.doc_id)).take(k)
      })
    }
    val ends = perPart.scanLeft(0)(_ + _)
    (k, perPart.indices.map(p => blocks.slice(ends(p), ends(p + 1))))
  }

  test("mergeAll over 0, 1, 8 and 130 partitions == sequential merge fold, in one job (property, Spark)") {
    import org.apache.spark.TestBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = TestSpark.spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    def arrays(b: Block) = (b.qids.toSeq, b.off.toSeq, b.docs.toSeq, b.scores.toSeq)
    sc.addSparkListener(counter)
    // 130 partitions are past the driver's fan-in of 64: one shuffled
    // merge level runs first
    try Seq(0, 1, 8, 130).foreach { n =>
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10),
        Prop.forAll(partsGen(n)) { case (k, parts) =>
          val rdd =
            if (parts.isEmpty) sc.emptyRDD[Block]
            else sc.parallelize(parts, parts.length).flatMap(identity)
          val want = parts.flatten.foldLeft(emptyBlock)(merge(_, _, k))
          TestBus.drain(sc)
          jobs.set(0)
          val got = mergeAll(rdd, k)
          TestBus.drain(sc)
          rdd.getNumPartitions == parts.length && jobs.get == 1 && arrays(got) == arrays(want)
        })
      assert(res.passed, s"$n partitions: ${res.status}")
    } finally sc.removeSparkListener(counter)
  }

  test("sortableBits: order-preserving bijection Double <-> Long (property)") {
    val doubles: Gen[Double] = Gen.oneOf(
      Gen.choose(-1.0, 1.0),                        // cosine range
      Gen.choose(-1e12, 1e12),                      // L2 range
      Gen.oneOf(0.0, -0.0, 1.0, -1.0,
        Double.MinPositiveValue, -Double.MinPositiveValue,
        Double.MaxValue, Double.MinValue))
    check(Prop.forAll(doubles, doubles) { (a, b) =>
      val (ea, eb) = (sortableBits(a), sortableBits(b))
      val roundTrip = fromSortableBits(ea) == a && fromSortableBits(eb) == b
      // -0.0 == 0.0 as doubles but has a distinct encoding; compare() is
      // the total order the encoding actually mirrors
      val orderPreserved =
        java.lang.Long.compare(ea, eb).sign == java.lang.Double.compare(a, b).sign
      roundTrip && orderPreserved
    })
  }
}
