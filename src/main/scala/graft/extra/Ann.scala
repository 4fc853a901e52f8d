package graft.extra

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TopK

/** Approximate-nearest-neighbor search over an embedding column — the
  * literal IVF capability of the reference (`src/index_ivf.cpp`), re-done
  * Spark-first on the driver's `embeddings` table (64-dim FLOAT arrays):
  *
  *  - [[bruteTopk]]: exact cosine top-k via a broadcast cross join +
  *    the one top-k merge ([[topkFromPairs]]) — the ground-truth path
  *    (reference `get_groundtruth` kc=1 analog).
  *  - [[lshTopk]]: sign-random-projection bucketing (2^NumPlanes cells);
  *    queries probe the `nprobe` hamming-closest cells — the coarse-
  *    quantizer pruning analog (`TopWId`). With nprobe = all cells the
  *    result is provably identical to [[bruteTopk]] (that equality IS the
  *    DuckDB-checked contract; recall at nprobe < all is spec-tested like
  *    the reference's Recall@10 harness).
  *
  * Cosine parity across engines: dot/norm folds are sequential
  * left-to-right (`aggregate` with 0.0 seed ≡ DuckDB `list_reduce`), all
  * in double — identical bits, so exact doubles can be the ranking key.
  */
object Ann {
  val NumQueryVecs = 10
  val K = 5
  val NumPlanes = 8 // 256 cells

  /** Scala mirror of [[cosCol]] — IDENTICAL arithmetic (left-to-right
    * double folds, dot/(√·√), same op order) so scores are bit-equal.
    * Used by the pair-heavy dedup paths: Catalyst higher-order functions
    * (`aggregate`/`zip_with` lambdas) evaluate INTERPRETED per element
    * (guide §4.1 — prefer compiled kernels in the hot path); at 125k
    * pairs × 64 dims the lambda interpreter was most of the query. Dot
    * runs over min length (vectors are fixed-dim by construction; a
    * ragged pair under zip_with would go null and be filtered — callers
    * only compare cos against thresholds). */
  def cosScala(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a(i).toDouble * b(i).toDouble; i += 1 }
    var na = 0.0
    i = 0
    while (i < a.length) { na += a(i).toDouble * a(i).toDouble; i += 1 }
    var nb = 0.0
    i = 0
    while (i < b.length) { nb += b(i).toDouble * b(i).toDouble; i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Sequential-fold cosine between two float-array columns (parity with
    * DuckDB list_reduce — see OracleSqlExtra). */
  def cosCol(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    def norm(x: Column): Column =
      sqrt(aggregate(transform(x, p => p.cast("double") * p.cast("double")),
        lit(0.0), (acc, v) => acc + v))
    dot(a, b) / (norm(a) * norm(b))
  }

  /** (query_vec_id, vec_id, score) candidate pairs → the top-k per query
    * under (score DESC, vec_id ASC), or (score ASC, vec_id ASC) when
    * `ascending` (a distance), through [[graft.TopK.topk]]: per-task
    * bounded heaps merged in the same job, no shuffle. The double score
    * rides the Long-keyed heap as its order-preserving IEEE-754 encoding
    * (negated when ascending). Returns the nq·k rows as a local relation
    * (query_vec_id, rank, vec_id, <score>_micro) in (query_vec_id, rank)
    * order. */
  def topkFromPairs(pairs: DataFrame, k: Int = K, ascending: Boolean = false): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val Array(_, _, score) = pairs.columns
    val sign = if (ascending) -1.0 else 1.0
    val top = TopK.topk(pairs
      .select(col("query_vec_id").cast("long"), col("vec_id").cast("long"), col(score))
      .as[(Long, Long, Double)].rdd
      .map { case (q, v, x) => (q, v, TopK.sortableBits(sign * x)) }, k)
    spark.createDataset(top.ranked((q, rank, v, s) =>
        (q, rank, v, math.floor(sign * TopK.fromSortableBits(s) * 1e6 + 0.5).toLong)))
      .toDF("query_vec_id", "rank", "vec_id", s"${score}_micro")
  }

  /** Exact top-k cosine neighbors for query vectors (vec_id < NumQueryVecs),
    * self excluded. Output (query_vec_id, rank, vec_id, cos_micro). Costs
    * O(nq·n) cosines and O(nq·k) heap state per task, so it needs no size
    * guard: it scans the table once per query, never pairs the table with
    * itself. */
  def bruteTopk(emb: DataFrame, k: Int = K, nq: Int = NumQueryVecs): DataFrame = {
    val q = emb.where(col("vec_id") < nq)
      .select(col("vec_id").as("query_vec_id"), col("embedding").as("qe"))
    val pairs = broadcast(q).join(emb, col("vec_id") =!= col("query_vec_id"))
      .select(col("query_vec_id"), col("vec_id"),
        cosCol(col("qe"), col("embedding")).as("cos"))
    topkFromPairs(pairs, k)
  }

  /** Fixed random-projection hyperplanes (deterministic seed). */
  val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(777L)
    Array.fill(NumPlanes)(Array.fill(64)(rnd.nextGaussian()))
  }

  def signature(v: Seq[Float]): Int = {
    var sig = 0
    var p = 0
    while (p < NumPlanes) {
      var acc = 0.0
      var i = 0
      val pl = planes(p)
      val n = math.min(v.length, pl.length)
      while (i < n) { acc += v(i) * pl(i); i += 1 }
      if (acc >= 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  /** Probe order: cells by hamming distance to the query's cell (ties by
    * cell id — deterministic). */
  def probeCells(querySig: Int, nprobe: Int): Seq[Int] =
    (0 until (1 << NumPlanes))
      .sortBy(c => (Integer.bitCount(c ^ querySig), c))
      .take(nprobe)

  // ---- k-means IVF: the literal reference pipeline -----------------------
  // Train (Lloyd, seeded/deterministic) → assign rows to coarse cells →
  // nprobe-nearest-centroid routing → exact scoring inside probed cells.
  // Reference: KMeans `include/kmeans.hpp:45-104`, Train
  // `src/index_ivf.cpp:39-70`, predict_one `src/quantizer.cpp:41-46`,
  // top-W routing `src/index_ivf.cpp:197-203`.

  val KmKc = 16 // coarse cells (kc); test corpus is 500-5000 vectors

  /** Deterministic Lloyd k-means over the embedding column: the
    * one-subspace case of [[kmeansFitSubspaces]]. */
  def kmeansFit(emb: DataFrame, kc: Int = KmKc, iters: Int = 8): Array[Array[Double]] =
    kmeansFitSubspaces(emb, 1, 0, kc, iters)(0)

  /** Deterministic Lloyd k-means of `nSub` subspaces of the embedding
    * column in ONE loop — subspace m is the slice [m·subDim, (m+1)·subDim)
    * (`subDim` 0: the whole vector, `nSub` must be 1) — each fit
    * bit-identical to fitting that slice alone. Per iteration ONE Catalyst
    * job: every row, once per still-moving subspace, takes a
    * broadcast-centroid argmin label, then `posexplode` +
    * `groupBy(m, label, pos)` updates the centroids (the reference's
    * grouped-AVG update, kmeans.hpp:83-100). Init = the kc lowest vec_ids,
    * one collect for all subspaces (deterministic; reference uses a
    * seeded shuffle). Clusters that lose all members keep their previous
    * centroid.
    *
    * The per-dimension mean sums in DECIMAL, not double: decimal addition
    * is exact and associative, so the shuffle's partial-merge order cannot
    * perturb low bits — two fits of the same table are bit-identical BY
    * CONSTRUCTION (a double sum through a shuffle is not; the spec's
    * bit-equality assertion used to rely on merge-order luck), and
    * grouping several subspaces into one job changes no bit. The 10^-9
    * input quantization is immaterial to a coarse quantizer. */
  def kmeansFitSubspaces(emb: DataFrame, nSub: Int, subDim: Int, kc: Int,
                         iters: Int): Array[Array[Array[Double]]] = {
    require(subDim > 0 || nSub == 1, "the whole vector is one subspace")
    val spark = emb.sparkSession
    import spark.implicits._
    val init = emb.orderBy($"vec_id").limit(kc)
      .select($"embedding").as[Seq[Float]].collect()
      .map(_.toArray.map(_.toDouble))
    var centroids = Array.tabulate(nSub) { m =>
      if (subDim == 0) init
      else init.map(v => java.util.Arrays.copyOfRange(v, math.min(m * subDim, v.length),
        math.min((m + 1) * subDim, v.length))) // == slice() on short vectors
    }
    val sub = if (subDim == 0) $"embedding"
              else slice($"embedding", $"m" * subDim + 1, lit(subDim))
    var moving: Seq[Int] = (0 until nSub).toList
    var it = 0
    while (it < iters && moving.nonEmpty) {
      val cb = centroids // stable closure capture per iteration
      val assignUdf = udf((m: Int, v: Seq[Float]) => argminL2(v, cb(m)))
      val updated = emb
        .select(explode(typedLit(moving)).as("m"), $"embedding")
        .select($"m", assignUdf($"m", sub).as("label"), posexplode(sub))
        .groupBy($"m", $"label", $"pos")
        .agg((sum($"col".cast("decimal(28,9)")) / count(lit(1)))
          .cast("double").as("c"))
        .collect()
      val next = centroids.map(_.map(_.clone()))
      updated.foreach(r => next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
      // Fixed-point early exit (bit-exact equality), per subspace: Lloyd
      // is a pure function of the centroids, so an iteration that
      // reproduces a subspace's centroids exactly makes every remaining
      // iteration of it a provable no-op — its codebook is IDENTICAL to
      // running all `iters`, and it leaves the job; the loop ends when
      // every subspace has.
      // Determinism beyond local mode: "pure function" needs every
      // iteration's aggregate to come out bit-identical whatever order
      // the shuffle merges partial sums in. A double sum only guarantees
      // that in local mode (fixed fetch order); off it, two runs of one
      // iteration could differ in low bits and this exit would fire (or
      // not) by luck. The update above therefore sums in exact DECIMAL
      // (associative) and the assignment is a per-row function, so the
      // exit holds on a cluster too — keep it that way if either changes.
      moving = moving.filterNot(m => java.util.Arrays.deepEquals(
        next(m).asInstanceOf[Array[AnyRef]], centroids(m).asInstanceOf[Array[AnyRef]]))
      centroids = next
      it += 1
    }
    centroids
  }

  /** Nearest-centroid id by L2² (predict_one analog; ties → lowest id). */
  def argminL2(v: Seq[Float], centroids: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      var d = 0.0; var i = 0
      val ctr = centroids(c)
      val n = math.min(v.length, ctr.length)
      while (i < n) { val x = v(i) - ctr(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Centroid probe order for a query vector: by L2² ascending (the
    * reference's coarse partial_sort top-W, ties by cell id). */
  def probeCellsKmeans(v: Seq[Float], centroids: Array[Array[Double]],
                       nprobe: Int): Seq[Int] = {
    centroids.indices
      .sortBy { c =>
        var d = 0.0; var i = 0
        val ctr = centroids(c)
        val n = math.min(v.length, ctr.length)
        while (i < n) { val x = v(i) - ctr(i); d += x * x; i += 1 }
        (d, c)
      }
      .take(nprobe)
  }

  /** k-means-IVF pruned top-k: train on the table itself (the reference
    * trains on the database), route each query to its nprobe nearest
    * cells, exact cosine inside. nprobe = KmKc ⇒ provably == [[bruteTopk]]
    * (every cell probed — the DuckDB-checked contract). */
  def kmeansIvfTopk(spark: SparkSession, emb: DataFrame, nprobe: Int,
                    k: Int = K, nq: Int = NumQueryVecs): DataFrame =
    kmeansIvfTopkWith(spark, emb, kmeansFit(emb), nprobe, k, nq)

  /** Routed+pruned scoring with a GIVEN codebook (trains nothing —
    * [[AnnIndex.topk]] feeds the persisted centroids/cells here). */
  def kmeansIvfTopkWith(spark: SparkSession, emb: DataFrame,
                        centroids: Array[Array[Double]], nprobe: Int,
                        k: Int = K, nq: Int = NumQueryVecs): DataFrame = {
    import spark.implicits._
    val assignUdf = udf((v: Seq[Float]) => argminL2(v, centroids))
    val cells = emb.withColumn("cell", assignUdf($"embedding"))
    val q = emb.where($"vec_id" < nq)
      .select($"vec_id".as("query_vec_id"), $"embedding".as("qe"))
    scoreProbed(spark, cells, q, centroids, nprobe, k)
  }

  /** Phase-2 scoring shared by the in-memory and disk IVF paths: route
    * each query to its nprobe nearest centroids, exact cosine inside
    * probed cells, bounded-heap top-k. `cells` must carry a `cell`
    * column. */
  def scoreProbed(spark: SparkSession, cells: DataFrame, q: DataFrame,
                  centroids: Array[Array[Double]], nprobe: Int, k: Int): DataFrame = {
    import spark.implicits._
    val probeUdf = udf((v: Seq[Float]) => probeCellsKmeans(v, centroids, nprobe))
    val routed = q.withColumn("probes", probeUdf($"qe"))
    val pairs = broadcast(routed).join(cells,
        array_contains($"probes", $"cell") && $"vec_id" =!= $"query_vec_id")
      .select($"query_vec_id", $"vec_id", cosCol($"qe", $"embedding").as("cos"))
    topkFromPairs(pairs, k)
  }

  /** LSH/IVF-style pruned top-k. nprobe = 2^NumPlanes ⇒ exact (== brute). */
  def lshTopk(spark: SparkSession, emb: DataFrame, nprobe: Int,
              k: Int = K, nq: Int = NumQueryVecs): DataFrame = {
    import spark.implicits._
    val sigUdf = udf((v: Seq[Float]) => signature(v))
    val cells = emb.withColumn("cell", sigUdf(col("embedding")))
    val q = cells.where($"vec_id" < nq)
      .select($"vec_id".as("query_vec_id"), $"embedding".as("qe"), $"cell".as("qcell"))
    // driver-side routing (phase 1): probe set per query cell
    val probeUdf = udf((qcell: Int) => probeCells(qcell, nprobe))
    val routed = broadcast(q.withColumn("probes", probeUdf($"qcell")))
    val pairs = routed.join(cells,
        array_contains($"probes", $"cell") && $"vec_id" =!= $"query_vec_id")
      .select($"query_vec_id", $"vec_id", cosCol($"qe", $"embedding").as("cos"))
    topkFromPairs(pairs, k)
  }
}
