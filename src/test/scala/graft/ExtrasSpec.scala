package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.extra._

/** Training-data-pipeline operators: self-consistency + known-answer
  * tests (the DuckDB cross-check runs via the driver contract). */
class ExtrasSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.01"
  private def docs = Stats.readDocuments(spark, sfDir)
  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("exact dedup finds planted duplicates") {
    import spark.implicits._
    val planted = docs.limit(5).union(docs.limit(5)) // every text twice
    val got = Dedup.exact(planted).as[(String, Long, Long)].collect()
    assert(got.length == 5 && got.forall(_._2 == 2))
  }

  test("ngram jaccard: identical docs score 1.0, disjoint docs absent") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // dup of 1
      (3L, "zeta eta theta iota kappa")       // disjoint
    ).toDF("doc_id", "text")
    val got = Dedup.ngramJaccard(df).as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1000000L)))
  }

  test("minhash LSH: estimates near 1.0 for dups; candidates superset of high-jaccard pairs") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight"),
      (4L, "one two three four five six seven nine") // jac high vs 3
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(spark, df)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs.get((1L, 2L)).contains(1000000L))
    assert(pairs.contains((3L, 4L))) // banded LSH must surface it

    // geometry is a real parameter: a second (numPerms, bandSize) runs
    // end-to-end, permutations share the seeded prefix, and exact dups
    // still estimate 1.0 (r scales with log2(N) at deployment — VERDICT 6)
    assert(Dedup.permsFor(8).toSeq == Dedup.perms.take(8).toSeq)
    val pairs64 = Dedup.minhashLsh(spark, df, numPerms = 64, bandSize = 8)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs64.get((1L, 2L)).contains(1000000L))
  }

  test("dup clusters: connected components, min-id survivor; long chain converges") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter 4 => several propagation rounds) + a
    // separate component + a redundant shortcut edge
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (2L, 4L)).toDF("vec_a", "vec_b")
    val got = Dedup.dupClusters(spark, pairs).as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L)))
  }

  test("dup clusters: 1000-edge chain converges in O(log D) pointer-doubling rounds") {
    import spark.implicits._
    // the adversarial shape for plain propagation: one path component of
    // diameter 1000 (templated-page transitive dup chains at web scale)
    val n = 1000
    val pairs = (0 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("vec_a", "vec_b")
    val (df, rounds) = Dedup.dupClustersCounted(spark, pairs)
    val got = df.as[(Long, Long)].collect().toSeq
    assert(got == (0 to n).map(i => (i.toLong, 0L)))
    // plain propagation needs ~D rounds; pointer doubling must stay
    // within ~2·log2(D) (measured: ~7 for D=1000; log2(1000) ≈ 10)
    val bound = 2 * (math.log(n) / math.log(2)).ceil.toInt
    assert(rounds <= bound, s"$rounds rounds > pointer-doubling bound $bound")
  }

  test("embedding dedup: null and ragged embeddings are skipped, not scored") {
    import spark.implicits._
    val e = Seq(
      (1L, Some(Seq(1f, 0f, 0f))),
      (2L, Some(Seq(1f, 0f, 0f))), // exact dup of 1
      (3L, None),                  // null embedding
      (4L, Some(Seq(1f, 0f))),     // ragged: a min-length cosine would be 1.0
      (5L, Some(Seq(0f, 1f, 0f)))  // orthogonal to 1 and 2
    ).toDF("vec_id", "embedding")
    val got = Dedup.embeddingDup(e).as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 1000000L)))
  }

  test("embedding dedup refuses a table above its row bound, naming embeddingDupLsh") {
    import spark.implicits._
    // the contract tables (500 and 2 000 vectors) stay well under it
    assert(Dedup.MaxExactDupRows >= 10 * 2000L)
    // one row over the bound; refused on its count, before any pair
    val big = spark.range(Dedup.MaxExactDupRows + 1)
      .select($"id".as("vec_id"), array(lit(1f)).as("embedding"))
    val e = intercept[IllegalArgumentException](Dedup.embeddingDup(big))
    assert(e.getMessage.contains("embeddingDupLsh"), e.getMessage)
  }

  test("simhash: identical docs identical hash; near-dup low hamming; unrelated high") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (4L, "totally different words appear here now indeed verily much")
    ).toDF("doc_id", "text")
    val h = Dedup.simhash(spark, df).as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(h(1L) == h(2L))
    assert(ham(h(1L), h(3L)) < ham(h(1L), h(4L)))
  }

  test("ANN: full-probe LSH == brute force (the IVF nprobe=all invariant)") {
    import spark.implicits._
    val brute = Ann.bruteTopk(emb).as[(Long, Int, Long, Long)].collect().toSeq
    val full = Ann.lshTopk(spark, emb, nprobe = 1 << Ann.NumPlanes)
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(full == brute)
    assert(brute.nonEmpty && brute.count(_._2 == 1) == Ann.NumQueryVecs)
  }

  test("ANN: pruned probe keeps reasonable recall (reference Recall@k harness)") {
    import spark.implicits._
    val brute = Ann.bruteTopk(emb).as[(Long, Int, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val pruned = Ann.lshTopk(spark, emb, nprobe = 64)
      .as[(Long, Int, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recall = brute.keys.toSeq.map { q =>
      (brute(q) intersect pruned.getOrElse(q, Set.empty)).size.toDouble / brute(q).size
    }.sum / brute.size
    assert(recall >= 0.5, s"recall=$recall") // 64/256 cells probed
    assert(recall < 1.0001)
  }

  test("ANN: k-means IVF — full probe == brute; pruned recall; deterministic fit") {
    import spark.implicits._
    val brute = Ann.bruteTopk(emb).as[(Long, Int, Long, Long)].collect().toSeq
    val full = Ann.kmeansIvfTopk(spark, emb, nprobe = Ann.KmKc)
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(full == brute, "nprobe=kc must equal the exact scan (QueryObs invariant)")
    // deterministic training: two fits are bit-identical (reference
    // precedent: fixed seed, tests/test_ivf_sift1m_baseline.cpp:45)
    val c1 = Ann.kmeansFit(emb).map(_.toSeq).toSeq
    val c2 = Ann.kmeansFit(emb).map(_.toSeq).toSeq
    assert(c1 == c2)
    // pruned probe: recall like the reference's Recall@k harness
    val bruteSets = brute.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val pruned = Ann.kmeansIvfTopk(spark, emb, nprobe = 4)
      .as[(Long, Int, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recall = bruteSets.keys.toSeq.map { q =>
      (bruteSets(q) intersect pruned.getOrElse(q, Set.empty)).size.toDouble / bruteSets(q).size
    }.sum / bruteSets.size
    assert(recall >= 0.4, s"recall=$recall") // 4/16 cells probed
  }

  test("pages: extract(html) is byte-identical to text per url") {
    import spark.implicits._
    val audit = Pages.extractAudit(spark, docs).as[(String, String)].collect().toMap
    val direct = docs
      .select(concat(lit("https://example.org/"), col("source"), lit("/"), col("doc_id")),
        md5(col("text")))
      .as[(String, String)].collect().toMap
    assert(audit == direct)
    // and the md5 mirror matches Spark's md5 function
    assert(PortableHash.md5Hex("hello") ==
      spark.sql("SELECT md5('hello')").head().getString(0))
  }

  test("media: meta + stub features are deterministic and schema-stable") {
    import spark.implicits._
    val m = Pages.mediaMeta(docs).as[(String, Long, String)].collect()
    assert(m.forall(_._3 == "text/html"))
    assert(m.forall { case (_, n, _) => n > 24 }) // wrapper adds 25 bytes
    val f1 = Pages.mediaFeaturesStub(spark, docs).collect().toSeq
    val f2 = Pages.mediaFeaturesStub(spark, docs).collect().toSeq
    assert(f1 == f2 && f1.nonEmpty)
  }

  test("quality + token counts + lang id + fingerprint: deterministic, complete") {
    val n = docs.count()
    assert(TextMetrics.tokenCounts(docs).count() == n)
    assert(TextMetrics.quality(docs).count() == n)
    assert(TextMetrics.langId(spark, docs).count() == n)
    val fp1 = TextMetrics.fingerprints(spark, docs).collect().toSeq
    val fp2 = TextMetrics.fingerprints(spark, docs).collect().toSeq
    assert(fp1 == fp2)
    // fingerprint is order-sensitive content identity
    assert(TextMetrics.fingerprint64(Seq("a", "b")) !=
      TextMetrics.fingerprint64(Seq("b", "a")))
    assert(TextMetrics.fingerprint64(Seq("a", "b")) ==
      TextMetrics.fingerprint64(Seq("a", "b")))
  }
}
