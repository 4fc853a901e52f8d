package graft.extra

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TopK

/** Product quantization + asymmetric-distance (ADC) scoring — the graft
  * of the reference's flagship compressed-vector structure (PQ encode
  * `src/quantizer.cpp:133-188` db_codes_; per-query DTable + ADist
  * accumulation `src/index_ivfpq.cpp:554-568`):
  *
  *  - train: per-subspace k-means codebooks (M=8 subspaces × SubDim=8 of
  *    the 64-dim embeddings), all fit in one Lloyd loop
  *    ([[Ann.kmeansFitSubspaces]]);
  *  - encode: each vector → M codeword ids (one byte each at ks ≤ 256 —
  *    32× smaller than the raw floats);
  *  - query: per-query DTable (M × ks partial L2²) computed ONCE on the
  *    driver; per-vector approximate distance = M table lookups; the
  *    engine's one top-k merge keeps a pool per query; the pool re-ranks
  *    on exact L2 (the classic ADC + refine shape, [[adcTopk]]).
  *
  * Verification config (the DuckDB-checked contract, q_ann_pq): ks =
  * n_vecs with 0 Lloyd iterations makes every subvector its own codeword
  * — encoding is LOSSLESS, so ADC == exact L2 and the full train → encode
  * → DTable → ADC → rerank pipeline must reproduce the exact-L2 top-k
  * (the same "full probe == brute" invariant the IVF paths use). The
  * lossy production config (ks=16) is recall-tested in the spec, like
  * the reference's Recall@k harness. */
object Pq {
  val M = 8       // subspaces
  val SubDim = 8  // dims per subspace (M * SubDim = 64)
  val Ks = 16     // production codewords per subspace

  /** Subvector m of the embedding column (1-based slice). */
  def subCol(m: Int): Column = slice(col("embedding"), m * SubDim + 1, SubDim)

  /** Per-subspace codebooks: M × ks × SubDim, all M subspaces fit in one
    * Lloyd loop ([[Ann.kmeansFitSubspaces]]: one init collect, then one
    * job per iteration). iters=0 returns the init (the ks lowest vec_ids'
    * subvectors) — with ks = n that is the lossless verification
    * codebook. */
  def trainCodebooks(emb: DataFrame, ks: Int = Ks, iters: Int = 4): Array[Array[Array[Double]]] =
    Ann.kmeansFitSubspaces(emb, M, SubDim, ks, iters)

  /** PQ code of one vector: per subspace, the nearest codeword id. */
  def encodeOne(v: Seq[Float], codebooks: Array[Array[Array[Double]]]): Array[Int] =
    Array.tabulate(M)(m => Ann.argminL2(v.slice(m * SubDim, (m + 1) * SubDim), codebooks(m)))

  /** (vec_id, code) table — the compressed index (db_codes_ analog). */
  def encode(emb: DataFrame, codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cb = spark.sparkContext.broadcast(codebooks)
    emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .map { case (id, v) => (id, encodeOne(v, cb.value).toSeq) }
      .toDF("vec_id", "code")
  }

  /** Per-query distance table: dtable(m)(c) = ||q_m − codeword_{m,c}||². */
  def dtable(q: Seq[Float], codebooks: Array[Array[Array[Double]]]): Array[Array[Double]] =
    Array.tabulate(M) { m =>
      val qm = q.slice(m * SubDim, (m + 1) * SubDim)
      codebooks(m).map { cw =>
        var d = 0.0; var i = 0
        while (i < SubDim) { val x = qm(i) - cw(i); d += x * x; i += 1 }
        d
      }
    }

  /** Canonical exact L2² between two float-array columns — sequential
    * left-to-right fold over all dims, bit-parity with the DuckDB mirror
    * (OracleSqlExtra.l2Expr), used for the rerank scores. */
  def l2Col(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
        (p, q) => (p.cast("double") - q.cast("double")) * (p.cast("double") - q.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  /** ADC top-k + exact rerank over the flat code table: one cell (0)
    * that holds every vector and every query probes ([[adcTopk]]). Every
    * query scores every code row — the in-memory oracle shape; the scale
    * path is [[AnnIndexPq]], the same ADC over cell-partitioned PERSISTED
    * codes where each query touches only its probed cells. Output
    * (query_vec_id, rank, vec_id, l2_micro) under (L2 ASC, vec_id ASC). */
  def pqTopk(spark: SparkSession, emb: DataFrame,
             codebooks: Array[Array[Array[Double]]],
             k: Int = Ann.K, nq: Int = Ann.NumQueryVecs,
             rerankFactor: Int = 4): DataFrame = {
    import spark.implicits._
    val qs = emb.where($"vec_id" < nq)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    adcTopk(encode(emb, codebooks).withColumn("cell", lit(0)),
      qs.map { case (id, v) => (id, v, Seq(0)) }, codebooks, emb, k, rerankFactor)
  }

  /** The ADC scan and exact rerank shared by [[pqTopk]] and
    * [[AnnIndexPq.topk]]. `codes` holds (vec_id, code, cell) rows; each
    * query (id, vector, probed cells) gets its DTable (M × ks partial L2²)
    * computed ONCE on the driver. Per code row, only the queries probing
    * its cell sum their M table lookups, into the per-task bounded heaps
    * of [[graft.TopK.topk]] (no per-candidate shuffle). The pool keeps
    * k·rerankFactor per query under (ADC distance ASC, vec_id ASC), self
    * excluded — quantization error shuffles near-ties, and a wider pool
    * restores recall at negligible cost since it is still O(k) — and
    * only those winners join back to raw vectors for [[rerankExact]]. */
  def adcTopk(codes: DataFrame, queries: Array[(Long, Seq[Float], Seq[Int])],
              codebooks: Array[Array[Array[Double]]], emb: DataFrame, k: Int,
              rerankFactor: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val qByCell: Map[Int, Array[(Long, Array[Array[Double]])]] = queries.flatMap {
      case (qid, v, cells) =>
        val dt = dtable(v, codebooks)
        cells.map(c => (c, (qid, dt)))
    }.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    val pool = TopK.topk(codes.select($"vec_id", $"code", $"cell")
      .as[(Long, Seq[Int], Int)].rdd
      .flatMap { case (vid, code, cell) =>
        qByCell.getOrElse(cell, Array.empty[(Long, Array[Array[Double]])]).iterator.collect {
          case (qid, dt) if qid != vid =>
            var d = 0.0; var m = 0
            while (m < M) { d += dt(m)(code(m)); m += 1 }
            (qid, vid, TopK.sortableBits(-d)) // distance ASC = -d DESC
        }
      }, k * rerankFactor)
    // the pool and the query vectors are both on the driver: join them here
    val qv = queries.map(q => q._1 -> q._2).toMap
    rerankExact(spark.createDataset(pool.ranked((q, _, v, _) => (q, v, qv(q))))
      .toDF("query_vec_id", "vec_id", "qe"), emb, k)
  }

  /** The exact rerank's pairs: the O(nq·k·rf) candidate pool
    * (query_vec_id, vec_id, qe), each candidate beside its query's vector,
    * joined back to raw vectors and scored with the canonical fold
    * ([[l2Col]] — the DuckDB-parity order). The one join BROADCASTS the
    * tiny pool, so the corpus is one column-pruned hash-probe scan — never
    * shuffled. */
  def rerankPairs(pool: DataFrame, emb: DataFrame): DataFrame = {
    import pool.sparkSession.implicits._
    emb.select($"vec_id", $"embedding")
      .join(broadcast(pool), Seq("vec_id"))
      .select($"query_vec_id", $"vec_id", l2Col($"qe", $"embedding").as("l2"))
  }

  /** Exact-L2 rerank of an ADC candidate pool: the top-k per query of
    * [[rerankPairs]] under (L2 ASC, vec_id ASC), through the one top-k
    * merge ([[Ann.topkFromPairs]]): a local relation (query_vec_id, rank,
    * vec_id, l2_micro) in (query_vec_id, rank) order. */
  def rerankExact(pool: DataFrame, emb: DataFrame, k: Int): DataFrame =
    Ann.topkFromPairs(rerankPairs(pool, emb), k, ascending = true)

  /** The lossless verification pipeline (ks = n, zero Lloyd iterations):
    * codewords ARE the subvectors, so ADC lookups sum the same per-
    * subspace L2² partials the exact distance would.
    *
    * What carries the == exact-L2 guarantee (ADVICE round 2): NOT bitwise
    * ADC == l2Col equality — ADC sums M per-subspace partials while
    * [[l2Col]] folds all 64 dims sequentially, a different FP association
    * that can differ by ulps. The guarantee is (a) the k·rerankFactor
    * pool absorbs any ulp-order boundary ties before (b) the exact rerank
    * rescores with the canonical fold. Hence rerankFactor ≥ 2 is REQUIRED
    * here: with a bare k-pool a near-tie on the pool boundary could drop
    * a true top-k member before the rerank can restore order. */
  def pqTopkLossless(spark: SparkSession, emb: DataFrame,
                     k: Int = Ann.K, nq: Int = Ann.NumQueryVecs,
                     rerankFactor: Int = 4): DataFrame = {
    require(rerankFactor >= 2,
      "lossless contract needs pool slack: ulp-order ADC ties on the pool " +
        "boundary are absorbed by k*rerankFactor and fixed by the exact rerank")
    val n = emb.count().toInt
    pqTopk(spark, emb, trainCodebooks(emb, ks = n, iters = 0), k, nq, rerankFactor)
  }
}
