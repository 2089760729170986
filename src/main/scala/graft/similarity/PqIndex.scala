package graft.similarity

import graft.sources.Sources
import org.apache.spark.mllib.clustering.GraftKMeans
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) approximate nearest neighbour — the
  * compressed-scan counterpart to the cell-pruning IVF path: IVF reads
  * FEWER vectors, PQ reads SMALLER ones. The vector space is split into
  * `m` subspaces; each subspace trains its own k-means codebook
  * (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
  * Search"); every corpus vector is stored as `m` small codes. Search is
  * ADC (asymmetric distance computation): the query stays full-precision,
  * each (subspace, code) pair's partial squared distance is computed ONCE
  * into a lookup table, and a corpus vector's approximate distance is the
  * sum of its m table entries.
  *
  * Scale shape: the codebook is m*k centroids — model-sized, always
  * broadcast. The codes table is m small ints per vector (32x smaller
  * than float64 at m=16, dim=64; byte codes at k <= 256 would double
  * that), so the "exhaustive" scan streams a
  * compressed corpus. The per-query LUT is m*k rows — broadcast-sized for
  * any sane query batch — and the score aggregate partial-aggregates the
  * m per-subspace terms map-side, so the shuffle carries one row per
  * (query, vector), never m. On a real deployment PQ composes WITH IVF
  * (probe nprobe cells, ADC-score inside them); here the paths are
  * separate operators so each shape is pinned on its own.
  */
object PqIndex {

  /** codebooks: (sub_idx, code, cv: array<double>); codes: (vec_id,
    * codes: array<int>) — one code per subspace, ordered by sub_idx.
    */
  final case class Model(m: Int, subDim: Int,
      codebooks: DataFrame, codes: DataFrame)

  /** Persist a built index — IvfIndex.save's model-registry contract:
    * `codes` out of [[build]] is a live encode lineage over the corpus,
    * so this is where the encode runs — once — and the loaded form makes
    * ADC search read the (tiny) code table artifact instead of re-running
    * the m*k argmin projection per query.
    * m/subDim ride a one-row meta table so load needs no side channel.
    */
  def save(model: Model, dir: String): Unit = {
    val spark = model.codebooks.sparkSession
    import spark.implicits._
    Seq((model.m, model.subDim)).toDF("m", "sub_dim")
      .write.mode("overwrite").parquet(s"$dir/meta")
    model.codebooks.write.mode("overwrite").parquet(s"$dir/codebooks")
    model.codes.write.mode("overwrite").parquet(s"$dir/codes")
  }

  def load(spark: SparkSession, dir: String): Model = {
    // by NAME, not position — a column-order change in the meta parquet
    // must not silently swap m and subDim (ADVICE r15)
    val meta = Sources.parquet(spark, s"$dir/meta").head()
    Model(meta.getAs[Int]("m"), meta.getAs[Int]("sub_dim"),
      Sources.parquet(spark, s"$dir/codebooks"),
      Sources.parquet(spark, s"$dir/codes"))
  }

  private def subvector(v: Column, subIdx: Int, subDim: Int): Column =
    slice(v, subIdx * subDim + 1, subDim)

  /** Train one codebook per subspace and encode the corpus. `emb` must
    * have (vec_id, v: array<double>) with a fixed dimension divisible by
    * `m`. Seeded per subspace, so the index is run-to-run deterministic.
    *
    * Build cost shape:
    *  - FIT reads a seeded sample of at most `fitPointsPerCentroid * k`
    *    rows (6,400 x 64 doubles, ~3.3 MB, at k=32) whatever the corpus
    *    size: a codebook is k centroids, and ~`fitPointsPerCentroid`
    *    points per centroid estimates them as well as the full corpus.
    *    Corpora at or below the target train on everything (fraction
    *    1.0), which keeps PqIndexSpec's zero-distortion law exact. The
    *    sample is model-sized, so it is collected ONCE, partition by
    *    partition, and the m fits run on the driver through
    *    [[org.apache.spark.mllib.clustering.GraftKMeans]], which mirrors
    *    MLlib's `KMeans.runAlgorithmWithWeight` (random init) and yields
    *    the centers `ml.clustering.KMeans` would, bit for bit. As MLlib
    *    jobs the fits were pure scheduling overhead (~20 jobs per
    *    sub-space, one per Lloyd round, over a few hundred rows); the
    *    build now launches the same 4 jobs at any m (PqIndexSpec).
    *  - ENCODE is ONE projection over the corpus: the m*k centroids are
    *    array literals (model-sized — the broadcast-a-codebook rule), and
    *    each vector's m codes are per-subspace argmins computed in a
    *    single select. No transform passes, no union, NO SHUFFLE — at
    *    100 TB the encode is a map-only compressed-write scan, which is
    *    the shape a PQ ingest must have. Ties (measure-zero on continuous
    *    data) break to the LOWEST code via array_position-of-min, so
    *    encoding is deterministic on any engine. `codes` is returned as
    *    that live projection: [[save]] writes it exactly once, and ADC
    *    queries read the saved table through [[load]].
    */
  def build(emb: DataFrame, m: Int = 4, k: Int = 16,
      seed: Long = 123L, fitPointsPerCentroid: Int = 200): Model = {
    val spark = emb.sparkSession
    val dim = emb.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val total = emb.count()
    val target = fitPointsPerCentroid.toLong * k
    val fitParts = (if (total <= target) emb
      else emb.sample(withReplacement = false, target.toDouble / total, seed))
      .select(col("v")).rdd
      .mapPartitions(rows =>
        Iterator(rows.map(_.getSeq[Double](0).toArray).toArray))
      .collect().toSeq
    val centers = (0 until m).map { si =>
      val sub = fitParts.map(_.map(_.slice(si * subDim, (si + 1) * subDim)))
      GraftKMeans.fit(sub, k, seed + si)
    }
    import spark.implicits._
    val codebooks = centers.zipWithIndex.flatMap { case (cs, si) =>
      cs.zipWithIndex.map { case (c, code) => (si, code, c.toSeq) }
    }.toDF("sub_idx", "code", "cv")
    val codesCol = array((0 until m).map { si =>
      val cb = typedLit(centers(si).map(_.toSeq).toSeq)
      val sub = subvector(col("v"), si, subDim)
      val scores = transform(cb, c => sqDist(sub, c))
      (array_position(scores, array_min(scores)) - 1).cast("int")
    }: _*)
    Model(m, subDim, codebooks, emb.select(col("vec_id"), codesCol.as("codes")))
  }

  /** Squared euclidean distance between two double arrays. */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** ADC top-k: every query scores the WHOLE compressed corpus via its
    * lookup table; ties broken by candidate id so the cut is total.
    * `queries` must have (q_id, qv: array<double>).
    */
  def adcTopK(model: Model, queries: DataFrame, k: Int): DataFrame = {
    // per-(query, subspace, code) partial distances — the LUT
    val lut = queries.join(broadcast(model.codebooks))
      .select(col("q_id"), col("sub_idx"), col("code"),
        sqDist(subviewOf(col("qv"), col("sub_idx"), model.subDim), col("cv"))
          .as("pd"))
    // corpus codes unrolled to (vec_id, sub_idx, code): m rows per vector
    val unrolled = model.codes
      .select(col("vec_id"),
        posexplode(col("codes")).as(Seq("sub_idx", "code")))
    unrolled.join(lut, Seq("sub_idx", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pd")).as("adist"), count(lit(1)).as("n_terms"))
      // a (query, vector) pair must contribute all m subspace terms;
      // enforcing it keeps a miscoded row from silently shrinking dists
      .filter(col("n_terms") === model.m)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("adist"), col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id").as("cand_id"), col("rn"))
  }

  /** ADC top-k restricted to a CANDIDATE set — the IVF-PQ composition's
    * scoring half: `cand` is (q_id, vec_id) (typically the vectors in
    * each query's probed cells), and only those pairs are scored. Same
    * LUT + partial-aggregate shape as [[adcTopK]]; the semi-join onto
    * the candidate pairs happens before the LUT join, so the compressed
    * scan shrinks from the whole corpus to the probed lists.
    */
  def adcTopKWithin(model: Model, queries: DataFrame, cand: DataFrame,
      k: Int): DataFrame = {
    val lut = queries.join(broadcast(model.codebooks))
      .select(col("q_id"), col("sub_idx"), col("code"),
        sqDist(subviewOf(col("qv"), col("sub_idx"), model.subDim), col("cv"))
          .as("pd"))
    val unrolled = cand.join(model.codes, Seq("vec_id"))
      .select(col("q_id").as("c_qid"), col("vec_id"),
        posexplode(col("codes")).as(Seq("sub_idx", "code")))
    unrolled.join(lut,
        col("c_qid") === col("q_id")
          && unrolled("sub_idx") === lut("sub_idx")
          && unrolled("code") === lut("code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pd")).as("adist"), count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === model.m)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("adist"), col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id").as("cand_id"), col("rn"))
  }

  /** The sub_idx-th subvector when the index is a COLUMN, not a literal
    * (slice() needs fold-ability for its start argument only in the
    * literal API; the expr form accepts any expression).
    */
  private def subviewOf(v: Column, subIdx: Column, subDim: Int): Column =
    slice(v, (subIdx * subDim + 1).cast("int"), lit(subDim))
}
