package graft.similarity

import graft.sources.Sources
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** IVF (inverted-file) approximate nearest neighbour over an
  * `array<double>` embedding column — the trained-quantizer counterpart to
  * the hash-bucket LSH path (e2_ann_buckets).
  *
  * Build: a k-means coarse quantizer assigns every vector to its nearest
  * centroid cell — one shuffle keyed by cell at write time. Search: a query
  * probes only its `nprobe` closest cells (candidate join keyed on cell_id,
  * never all-pairs), then exact cosine ranks the candidates per query.
  * At 100 TB: cells ~ sqrt(N) so each inverted list stays executor-sized;
  * the centroid table is model-sized and broadcasts; recall tunes with
  * nprobe, plan shape unchanged.
  */
object IvfIndex {

  final case class Model(centroids: DataFrame, assigned: DataFrame)

  /** Persist a built index as two parquet tables — the model-registry
    * contract: the quantizer is trained ONCE per corpus snapshot, saved,
    * and every search job `load`s it instead of refitting (at scale the
    * k-means fit dominates e4-style queries; a loaded index makes search
    * cost = probe join only). The assigned table is written partitioned by
    * cell so a probed search prunes to its nprobe cells at the file level.
    */
  def save(model: Model, dir: String): Unit = {
    model.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    model.assigned.write.mode("overwrite")
      .partitionBy("cell_id").parquet(s"$dir/assigned")
  }

  def load(spark: SparkSession, dir: String): Model = Model(
    Sources.parquet(spark, s"$dir/centroids"),
    Sources.parquet(spark, s"$dir/assigned"))

  /** Train the coarse quantizer and assign every vector to a cell.
    * `emb` must have (vec_id, v: array<double>).
    *
    * The fit stays a distributed MLlib k-means|| job, unlike PqIndex's
    * driver-side codebook fits: it reads the FULL corpus, which is not
    * bounded, so collecting it to the driver would break the scale
    * rationale above. PQ can collect because its fit sample is capped at
    * `fitPointsPerCentroid * k` rows whatever the corpus size.
    */
  def build(emb: DataFrame, nCells: Int, seed: Long = 123L): Model = {
    val withVec = emb.withColumn("fv", array_to_vector(col("v")))
    val km = new KMeans().setK(nCells).setSeed(seed).setFeaturesCol("fv")
    val model = km.fit(withVec)
    val assigned = model.transform(withVec)
      .select(col("vec_id"), col("v"), col("prediction").as("cell_id"))
      .withColumn("nrm", l2Norm(col("v")))
    val spark = emb.sparkSession
    val centroids = centroidFrame(spark, model.clusterCenters.map(_.toArray))
    Model(centroids, assigned)
  }

  private def centroidFrame(spark: SparkSession,
      centers: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell_id", "cv")
      .withColumn("cnrm", l2Norm(col("cv")))
  }

  /** Assign a NEW batch of vectors to an already-trained quantizer's cells
    * — the incremental-ingest half of the registry contract: the k-means
    * fit happens once per corpus snapshot (`build`), and every later batch
    * (new crawl shard, planted-dup audit set, query log) is routed to cells
    * without refitting. Nearest centroid by squared euclidean distance,
    * which is what the k-means transform itself uses; ||x||^2 is constant
    * per vector so argmin needs only ||c||^2 - 2x.c.
    *
    * Plan shape: broadcast the model-sized centroid table, then min_by per
    * vec_id. The broadcast join expands each row x nCells, but partial
    * aggregation collapses the expansion back to one row per vec_id
    * map-side (the join is broadcast, so all nCells copies of a vector sit
    * in its own partition) — the exchange carries N rows, not N x nCells.
    * At 100 TB this is the only shape that works: assignment must stay a
    * map-side pass over the corpus.
    */
  def assign(model: Model, emb: DataFrame): DataFrame = {
    val d2 = col("cnrm") * col("cnrm") - lit(2.0) * dot(col("v"), col("cv"))
    emb.join(broadcast(model.centroids))
      .groupBy(col("vec_id"))
      .agg(min_by(
        struct(col("v"), col("cell_id"),
          (dot(col("v"), col("cv")) / (l2Norm(col("v")) * col("cnrm"))).as("csim")),
        struct(d2.as("d2"), col("cell_id"))).as("m"))
      .select(col("vec_id"), col("m.v").as("v"), col("m.cell_id").as("cell_id"),
        col("m.csim").as("csim"), l2Norm(col("m.v")).as("nrm"))
  }

  /** Each query's `nprobe` nearest cells — the shared probe-selection
    * step of the IVF search paths (exact-rerank `topK` and the IVF-PQ
    * composition): query x model-sized centroid table (broadcast), top
    * cells by centroid cosine with a total tie-break.
    */
  def probe(model: Model, queries: DataFrame, nprobe: Int): DataFrame = {
    val q = queries.withColumn("qnrm", l2Norm(col("qv")))
    q.join(broadcast(model.centroids))
      .select(col("q_id"), col("qv"), col("qnrm"), col("cell_id"),
        (dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm"))).as("csim"))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(desc("csim"), col("cell_id"))))
      .filter(col("crank") <= nprobe)
      .select("q_id", "qv", "qnrm", "cell_id")
  }

  /** Exact-cosine top-k restricted to each query's `nprobe` nearest cells.
    * `queries` must have (q_id, qv: array<double>).
    */
  def topK(model: Model, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val probed = probe(model, queries, nprobe)
    // candidate join keyed on cell_id, then exact per-query ranking
    probed.join(model.assigned, Seq("cell_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        (dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))).as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(desc("cos"), col("cand_id"))))
      .filter(col("rn") <= k)
  }
}
