package org.apache.spark.mllib.clustering

import java.util.Random

import org.apache.spark.mllib.linalg.{BLAS, Vectors}
import org.apache.spark.util.Utils
import org.apache.spark.util.random.{BernoulliSampler, SamplingUtils, XORShiftRandom}

/** Driver-side k-means with random init over an already-collected,
  * model-sized input: `parts` holds the fit rows partition by partition,
  * in partition order, exactly as the RDD that `ml.clustering.KMeans`
  * would read. It replays `KMeans.runAlgorithmWithWeight` (random init,
  * Euclidean, unit weights) through MLlib's own helpers, so the centers
  * are bit-identical to `new ml.clustering.KMeans().setInitMode("random")`
  * fitted on the same partitions (GraftKMeansSpec) — without the one
  * Spark job per Lloyd round and the init's count/sample jobs. On dense
  * vectors ml.KMeans runs its block solver: the same takeSample init,
  * the same per-point adds and partition-order reduce, and a GEMM in
  * place of `findClosest` for the nearest center, which can only differ
  * on an exact distance tie.
  *
  * Lives in Spark's package (as `org.apache.spark.sql.GraftBridge` does)
  * because `VectorWithNorm`, `DistanceMeasure`, `BLAS` and the sampling
  * utilities are `private[spark]`. A Spark upgrade must keep
  * GraftKMeansSpec green.
  */
object GraftKMeans {

  /** ml.KMeans's maxIter and tol defaults: the centers match an estimator
    * built with no overrides.
    */
  private val MaxIter = 20
  private val Tol = 1e-4

  def fit(parts: Seq[Array[Array[Double]]], k: Int,
      seed: Long): Array[Array[Double]] = {
    // ml.KMeans rejects the same input (DatasetUtils.checkNonNanVectors)
    require(parts.forall(_.forall(_.forall(x => !x.isNaN && !x.isInfinite))),
      "Vector values MUST NOT be NaN or Infinity")
    val data = parts.map(_.map { a =>
      val v = Vectors.dense(a)
      new VectorWithNorm(v, Vectors.norm(v, 2.0), 1.0)
    })
    // initRandom: takeSample without replacement, then dedup the vectors
    val centers = takeSample(data, k, new XORShiftRandom(seed).nextInt())
      .map(_.vector).distinct.map(new VectorWithNorm(_))
    val dim = centers.head.vector.size
    val measure = new EuclideanDistanceMeasure
    val withStats = DistanceMeasure.shouldComputeStatistics(centers.length)
    var converged = false
    var iteration = 0
    while (iteration < MaxIter && !converged) {
      val stats =
        if (withStats) Some(measure.computeStatistics(centers)) else None
      // one (sums, weights) pair per partition, as the mapPartitions emits
      val perPart = data.map { points =>
        val sums = Array.fill(centers.length)(Vectors.zeros(dim))
        val weights = new Array[Double](centers.length)
        points.foreach { p =>
          val best = measure.findClosest(centers, stats, p)._1
          measure.updateClusterSum(p, sums(best))
          weights(best) += p.weight
        }
        (sums, weights)
      }
      converged = true
      centers.indices.foreach { j =>
        // reduceByKey: a left fold of the partitions that hit j, in order
        perPart.filter(_._2(j) > 0) match {
          case Seq() => ()
          case (s0, w0) +: rest =>
            val sum = s0(j)
            var weight = w0(j)
            rest.foreach { case (s, w) =>
              BLAS.axpy(1.0, s(j), sum)
              weight += w(j)
            }
            val c = measure.centroid(sum, weight)
            if (!measure.isCenterConverged(centers(j), c, Tol)) converged = false
            centers(j) = c
        }
      }
      iteration += 1
    }
    centers.map(_.vector.toArray)
  }

  /** `RDD.takeSample(withReplacement = false, num, seed)` replayed on the
    * partition arrays: same count, fraction, per-partition Bernoulli seeds
    * (`PartitionwiseSampledRDD`) and final shuffle.
    */
  private def takeSample(parts: Seq[Array[VectorWithNorm]], num: Int,
      seed: Long): Array[VectorWithNorm] = {
    val rand = new Random(seed)
    val count = parts.map(_.length.toLong).sum
    if (num >= count) Utils.randomizeInPlace(parts.flatten.toArray, rand)
    else {
      val fraction = SamplingUtils.computeFractionForSampleSize(num, count,
        withReplacement = false)
      def sample(): Array[VectorWithNorm] = {
        val partSeeds = new Random(rand.nextInt())
        parts.flatMap { p =>
          val sampler = new BernoulliSampler[VectorWithNorm](fraction)
          sampler.setSeed(partSeeds.nextLong())
          sampler.sample(p.iterator)
        }.toArray
      }
      var samples = sample()
      while (samples.length < num) samples = sample()
      Utils.randomizeInPlace(samples, rand).take(num)
    }
  }
}
