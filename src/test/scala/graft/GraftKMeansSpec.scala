package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.mllib.clustering.GraftKMeans
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** GraftKMeans is the driver-side replay of MLlib's random-init Lloyd loop
  * that PqIndex.build fits its codebooks with. The contract is bit
  * identity: on the same partitioned input, the centers equal those of
  * `new ml.clustering.KMeans().setInitMode("random")` — the exact
  * estimator PqIndex used before — down to the raw double bits. A Spark
  * upgrade that changes MLlib's sampling, assignment or reduce order fails
  * here first.
  */
class GraftKMeansSpec extends SparkSpec {

  private def bits(cs: Array[Array[Double]]): Seq[Seq[Long]] =
    cs.toSeq.map(_.toSeq.map(java.lang.Double.doubleToRawLongBits))

  /** (vec_id, v: array<double>) at `n` partitions, materialized once so the
    * MLlib fit and the collect read identical partitions in identical order.
    */
  private def input(d: String, n: Int, limit: Int = Int.MaxValue): DataFrame =
    Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("vec_id") < limit)
      .repartition(n, col("vec_id")).localCheckpoint()

  private def parts(df: DataFrame, from: Int, len: Int): Seq[Array[Array[Double]]] =
    df.select(slice(col("v"), from + 1, len)).rdd
      .mapPartitions(rows => Iterator(rows.map(_.getSeq[Double](0).toArray).toArray))
      .collect().toSeq

  private def mllibModel(df: DataFrame, from: Int, len: Int, k: Int,
      seed: Long) =
    new KMeans().setK(k).setSeed(seed).setFeaturesCol("fv")
      .setInitMode("random")
      .fit(df.select(array_to_vector(slice(col("v"), from + 1, len)).as("fv")))

  private def mllib(df: DataFrame, from: Int, len: Int, k: Int,
      seed: Long): Array[Array[Double]] =
    mllibModel(df, from, len, k, seed).clusterCenters.map(_.toArray)

  private def graft(df: DataFrame, from: Int, len: Int, k: Int,
      seed: Long): Array[Array[Double]] =
    GraftKMeans.fit(parts(df, from, len), k, seed)

  for (d <- Seq(sfDir, sfDir.replace("sf0.001", "sf0.1")); n <- Seq(1, 4, 7)) {
    test(s"m=16/k=32 sub-space codebooks are bit-identical to ml.KMeans " +
        s"(${d.split('/').last}, $n partitions)") {
      val df = input(d, n)
      // the 16 MLlib fits run concurrently, as PqIndex ran them
      val expected = (0 until 16).map(si =>
        Future(mllib(df, si * 4, 4, 32, 123L + si)))
        .map(Await.result(_, Duration.Inf))
      (0 until 16).foreach { si =>
        assert(bits(graft(df, si * 4, 4, 32, 123L + si)) == bits(expected(si)),
          s"sub-space $si diverged")
      }
    }
  }

  test("k above the row count takes the randomize-everything init branch") {
    // takeSample's num >= count branch: every row becomes a center
    val df = input(sfDir, 4)
    val got = graft(df, 0, 16, 600, 5L)
    assert(got.length == 500)
    assert(bits(got) == bits(mllib(df, 0, 16, 600, 5L)))
  }

  test("fewer than k distinct rows takes the distinct path") {
    // 40 rows carrying 10 distinct vectors: the sampled init has duplicates
    // that MLlib's `.distinct` drops, leaving fewer centers than k = 16
    val df = Tables.embeddings(spark, sfDir)
      .select((col("vec_id") % 10).as("src"), col("vec_id"))
      .filter(col("vec_id") < 40)
      .join(input(sfDir, 1, 10).withColumnRenamed("vec_id", "src"), "src")
      .repartition(3, col("vec_id")).localCheckpoint()
    val got = graft(df, 0, 8, 16, 9L)
    assert(got.length < 16)
    assert(bits(got) == bits(mllib(df, 0, 8, 16, 9L)))
  }

  test("a fit that converges early and a fit that stops at maxIter both " +
      "match") {
    // k=2 on 2-dim sub-vectors settles well inside 20 rounds; k=32 on the
    // full 64 dims of the sf0.1 corpus is still moving after 20
    val small = input(sfDir, 4)
    val early = mllibModel(small, 0, 2, 2, 1L)
    assert(early.summary.numIter < 20, "the early case must converge")
    assert(bits(graft(small, 0, 2, 2, 1L))
      == bits(early.clusterCenters.map(_.toArray)))
    val df = input(sfDir.replace("sf0.001", "sf0.1"), 4)
    val capped = mllibModel(df, 0, 64, 32, 1L)
    assert(capped.summary.numIter == 20, "the capped case must hit maxIter")
    assert(bits(graft(df, 0, 64, 32, 1L))
      == bits(capped.clusterCenters.map(_.toArray)))
  }

  test("NaN and Infinity input rows are rejected, as ml.KMeans rejects them") {
    val s = spark
    import s.implicits._
    val ok = Array(Array(0.0, 1.0), Array(1.0, 0.0), Array(2.0, 2.0))
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity)) {
      val rows = ok :+ Array(bad, 0.0)
      val e = intercept[IllegalArgumentException](
        GraftKMeans.fit(Seq(ok, Array(rows.last)), 2, 1L))
      assert(e.getMessage.contains("NaN or Infinity"))
      intercept[Exception](mllib(rows.toSeq.map(_.toSeq).toDF("v"), 0, 2, 2, 1L))
    }
  }
}
