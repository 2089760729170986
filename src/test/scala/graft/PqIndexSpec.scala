package graft

import org.apache.spark.sql.functions._
import graft.similarity.PqIndex

/** Laws for the product-quantization index: code-shape invariants, the
  * zero-distortion case (a corpus smaller than the codebook reconstructs
  * itself exactly, so ADC == exact), and the recall floor of the
  * registered self-evidencing query.
  */
class PqIndexSpec extends SparkSpec {

  test("codes are one-per-subspace and inside the codebook range") {
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val model = PqIndex.build(emb, m = 4, k = 16, seed = 7L)
    val codes = model.codes.select($"vec_id", posexplode($"codes"))
      .toDF("vec_id", "sub_idx", "code")
    assert(model.codes.filter(size($"codes") =!= 4).isEmpty)
    assert(codes.filter($"code" < 0 || $"code" >= 16).isEmpty)
    assert(model.codebooks.count() === 4L * 16)
  }

  test("ADC is exact when every vector is its own centroid (k = corpus)") {
    val s = spark
    import s.implicits._
    // 8 vectors, k=8 per subspace: random init takes every row as a
    // center (k >= n), so every distinct subvector is its own centroid ->
    // zero quantization error -> ADC ranking equals the exact squared-L2
    // ranking
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter($"vec_id" < 8)
    val model = PqIndex.build(emb, m = 4, k = 8, seed = 7L)
    val queries = emb.select($"vec_id".as("q_id"), $"v".as("qv"))
    val adc = PqIndex.adcTopK(model, queries, 3)
      .select($"q_id", $"cand_id", $"rn")
    import graft.functions.VectorFunctions._
    val exact = emb.join(broadcast(queries), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        (dot($"v", $"v") + dot($"qv", $"qv")
          - lit(2.0) * dot($"v", $"qv")).as("d2"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"q_id").orderBy($"d2", $"vec_id")))
      .filter($"rn" <= 3)
      .select($"q_id", $"vec_id".as("cand_id"), $"rn")
    assert(adc.exceptAll(exact).isEmpty && exact.exceptAll(adc).isEmpty,
      "zero-distortion ADC diverged from the exact ranking")
  }

  test("the build launches a fixed number of Spark jobs, whatever m is") {
    // construct-time job budget: the m codebook fits run on the driver
    // over one collect of the fit sample, so m=4 and m=16 cost the same
    // jobs: the dim probe, the corpus count and that collect. Fitting
    // each sub-space with MLlib cost ~20 jobs per sub-space instead (81
    // jobs at m=4, 344 at m=16 on this input).
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def build(m: Int): Int = jobs(PqIndex.build(emb, m = m, k = 32))
    val (m4, m16) = (build(4), build(16))
    assert(m4 == m16, s"job count grew with m: m=4 $m4, m=16 $m16")
    assert(m16 == 4, s"build launched $m16 jobs")
  }

  test("e8 IVF-PQ prunes the scan and keeps recall above the floor") {
    val s = spark
    import s.implicits._
    val out = SparkEntry.queries("e8_ivfpq")(spark, sfDir)
      .as[(Long, Long, Long, Int)].collect()
    assert(out.length === 10)
    val corpus = Tables.embeddings(spark, sfDir).count()
    // the probe must actually prune: every candidate list smaller than
    // the corpus, and none empty
    assert(out.forall(r => r._3 > 0 && r._3 < corpus),
      s"candidate lists not pruned: ${out.map(_._3).mkString(",")}")
    val mean = out.map(_._2).sum / 10.0
    // IVF cell misses stack on PQ distortion, so the floor sits below
    // e7's full-scan floor (observed ~3.6 at nprobe=3)
    assert(mean >= 1.5, s"mean IVF-PQ top-10 overlap $mean below floor")
  }

  test("e7 self-evidencing recall stays above the floor") {
    val s = spark
    import s.implicits._
    val out = SparkEntry.queries("e7_pq_adc")(spark, sfDir)
      .as[(Long, Long, Int)].collect()
    assert(out.length === 10)
    val mean = out.map(_._2).sum / 10.0
    // 16x32 PQ on the 64-dim near-random synthetic embeddings: measured
    // mean top-10 overlap 5.2 (chance is ~10/500); floor leaves margin
    // for seed drift while staying far above the broken-ADC regime
    assert(mean >= 3.5, s"mean top-10 overlap $mean below floor")
  }
}
