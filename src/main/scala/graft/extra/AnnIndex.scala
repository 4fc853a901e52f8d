package graft.extra

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.IndexBuild

/** Persisted IVF index over an embedding table — the graft of the
  * reference's core index lifecycle train → WriteIndex → LoadIndex →
  * selective-cell query (`src/index_ivfpq.cpp:326-348` write/load,
  * `:122-159` selective cell load): the codebook is fit ONCE at build
  * time and persisted; query time trains NOTHING and reads ONLY the
  * probed cells (parquet partition pruning on the cell directory key).
  *
  * On-disk layout, committed through the fulltext index's commit path
  * ([[IndexBuild.commitParts]], meta LAST):
  *   dir/cells/cell=N/  (vec_id, embedding) — one directory per coarse cell
  *   dir/manifest       (cell, n_vecs) — per-cell resume lineage
  *   dir/centroids      (cell, centroid: array<double>) — the codebook
  *   dir/meta           JSON {n_vecs, dim, kc, iters} — written LAST (the
  *                      commit point; [[topk]] refuses an index without it)
  */
object AnnIndex {

  final case class Meta(n_vecs: Long, dim: Int, kc: Int, iters: Int)

  /** Deterministic training sample: every `inv`-th vector by id — the
    * reference clamps training to nsamples rows (`src/index_ivf.cpp:43-45`,
    * seeded shuffle `:50-62`); at 10^12 vectors a full-table Lloyd fit
    * would spend `2·iters` corpus scans on a LAYOUT-ONLY model. Layout-
    * only means results are unaffected: full probe scores every cell
    * regardless of where the centroids landed, and pruned-probe recall is
    * a quality (spec-tested) property, not a correctness one. */
  def trainSample(emb: DataFrame, inv: Int): DataFrame =
    if (inv <= 1) emb else emb.where(pmod(col("vec_id"), lit(inv)) === 0)

  def manifestDir(dir: String): String = s"$dir/manifest"
  private[extra] def metaPath(dir: String): String = s"$dir/meta"

  /** The meta of a committed ANN index, refusing loudly when there is
    * none: a write killed before its meta-last commit, or a parquet-dir
    * meta of the layout before metas were JSON records. No Spark job. */
  private[extra] def readMetaJson[T](spark: SparkSession, dir: String)(
      parse: com.fasterxml.jackson.databind.JsonNode => T): T =
    IndexBuild.readMetaJson(spark, metaPath(dir),
      s"$dir holds no committed ANN index (no JSON meta: a write killed " +
        "before its meta-last commit, or a parquet-dir meta of an older " +
        "layout) — resume or rebuild it with write")(parse)

  /** Persist a coarse codebook (tiny: kc × dim doubles) as one parquet
    * file; a resume reuses it only once [[IndexBuild.committed]]. */
  private[extra] def writeCentroids(spark: SparkSession, c: Array[Array[Double]],
                                    dir: String): Unit = {
    import spark.implicits._
    c.zipWithIndex.map { case (ct, i) => (i, ct.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
  }

  /** Build: one k-means fit over a deterministic sample (the only
    * training, ever) + one assignment pass writing cell-partitioned
    * parquet. Scale shape: the fit scans `1/trainSampleInv` of the table
    * per Lloyd iteration; the assignment pass is linear, embarrassingly
    * parallel, and the write shuffles nothing (each task appends to its
    * cells' directories).
    *
    * Commits through the index's commit path ([[IndexBuild.commitParts]]
    * on `cell`, meta LAST; reference analog: LoadFromBook idempotent
    * selective load, `src/index_ivfpq.cpp:122-159`). With resume=true a
    * killed build restarts from its last commit point: a complete index
    * no-ops, a committed codebook skips retraining, and cells already in
    * the manifest are dropped BEFORE the shuffle-free write (dynamic
    * partition overwrite scrubs partial files in gap cells). With
    * resume=false any previous index at `dir` is cleared first
    * ([[IndexBuild.clearDirs]]) — dynamic overwrite alone would leave
    * stale cells a smaller rebuild never touches. n_vecs is the sum of
    * the per-cell counts the commit returns, dim the codebook's. */
  def write(spark: SparkSession, emb: DataFrame, dir: String,
            kc: Int = Ann.KmKc, iters: Int = 8, trainSampleInv: Int = 4,
            resume: Boolean = false): Meta = {
    import spark.implicits._
    if (!resume)
      IndexBuild.clearDirs(spark, Seq(metaPath(dir), manifestDir(dir), s"$dir/cells",
        s"$dir/centroids"))
    else if (IndexBuild.exists(spark, metaPath(dir)))
      return readMeta(spark, dir) // meta is the commit point: already complete
    val centroids =
      if (resume && IndexBuild.committed(spark, s"$dir/centroids"))
        loadCentroids(spark, dir)
      else {
        val c = Ann.kmeansFit(trainSample(emb, trainSampleInv), kc, iters)
        writeCentroids(spark, c, dir)
        c
      }
    val done =
      if (resume) IndexBuild.committedParts(spark, manifestDir(dir), "cell")
      else Set.empty[Int]
    val assignUdf = udf((v: Seq[Float]) => Ann.argminL2(v, centroids))
    val assigned0 = emb.select($"vec_id", $"embedding", assignUdf($"embedding").as("cell"))
    val assigned = if (done.isEmpty) assigned0
                   else assigned0.where(!$"cell".isin(done.toSeq: _*))
    val cells = IndexBuild.commitParts(assigned, s"$dir/cells", manifestDir(dir), "cell",
      Seq(count(lit(1)).as("n_vecs")), done)
    val meta = Meta(cells.map(_.getLong(1)).sum, centroids.headOption.fold(0)(_.length), kc,
      iters)
    IndexBuild.commitJson(spark, metaPath(dir), IndexBuild.recordJson(meta))
    meta
  }

  def readMeta(spark: SparkSession, dir: String): Meta =
    readMetaJson(spark, dir) { n =>
      Meta(n.get("n_vecs").asLong, n.get("dim").asInt, n.get("kc").asInt,
        n.get("iters").asInt)
    }

  /** The persisted codebook, cell-ordered (tiny: kc × dim doubles, so
    * one collect, sorted on the driver). Every table the index wrote
    * itself is read with its known schema: parquet then runs no
    * schema-inference job. */
  def loadCentroids(spark: SparkSession, dir: String): Array[Array[Double]] = {
    import spark.implicits._
    spark.read.schema("cell INT, centroid ARRAY<DOUBLE>").parquet(s"$dir/centroids")
      .select($"cell", $"centroid").as[(Int, Seq[Double])].collect()
      .sortBy(_._1).map(_._2.toArray)
  }

  /** Query a loaded index: NO training, NO full scan. Phase 1 routes each
    * query to its nprobe nearest persisted centroids (driver-side, like
    * the fulltext candidatePartIds); the union of probed cells becomes a
    * partition filter on the cells directory, so unprobed cells are never
    * read (reference: LoadFromBook's selective cell load). Phase 2 is
    * [[Ann.scoreProbed]] over those cells: exact cosine inside probed
    * cells, heap-merged per-query top-k. */
  def topk(spark: SparkSession, dir: String, queries: DataFrame,
           nprobe: Int, k: Int = Ann.K): DataFrame = {
    import spark.implicits._
    readMeta(spark, dir) // the commit gate: never answer from partial cells
    val centroids = loadCentroids(spark, dir)
    val qs = queries.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val allProbes = qs.flatMap(q => Ann.probeCellsKmeans(q._2, centroids, nprobe))
      .distinct.sorted.toSeq
    Ann.scoreProbed(spark, readCells(spark, dir).where($"cell".isin(allProbes: _*)),
      qs.toSeq.toDF("query_vec_id", "qe"), centroids, nprobe, k)
  }

  /** The cells as written: `cell` is the int partition column. */
  def readCells(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema("vec_id BIGINT, embedding ARRAY<FLOAT>, cell INT").parquet(s"$dir/cells")
}
