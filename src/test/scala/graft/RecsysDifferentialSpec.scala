package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.functions._
import graft.model.AlsTrainer
import graft.queries.MlQueries

/** Driver-side replay differential for the three weakest-evidenced
  * rows-only queries (VERDICT r15 #5 / r16 #5): m6_item_similarity,
  * m11_rec_coverage, m12_fold_in were law-spec-only (FoldInSpec/AlsSpec
  * pin structural floors, not the registered queries' actual rows). The
  * BpeDifferentialSpec pattern applied here: each query's FULL output is
  * recomputed on the driver with plain Scala collections — sharing only
  * the input data (the cached ALS model's factors and the ratings frame,
  * which ARE the rows-only rationale: model output no SQL engine
  * reproduces) and the published formulas — and asserted row for row
  * against the registered query.
  *
  * What is and isn't shared per query:
  *  - m6: shares the item-factor matrix; the cosine / 4-dp rounding /
  *    per-query top-3 ranking are replayed independently (left-to-right
  *    double dot, BigDecimal HALF_UP — the exact semantics
  *    expressions/DotProduct and Spark's round() commit to). EXACT match.
  *  - m11: shares the factors AND the model's top-5 lists (model output
  *    is m11's input, not what it adds); the popularity join, integer
  *    self-information class (floor log2), coverage and novelty rollups
  *    are replayed with plain maps. EXACT match — all-integer outputs,
  *    and the one float sum (per-item popularity) is a sum of integral
  *    floats, exact in double in any order.
  *  - m12: the fold-in itself is replayed INDEPENDENTLY — normal
  *    equations accumulated from the raw (item, count) lists and solved
  *    by Cholesky (FoldIn uses Gaussian elimination with pivoting), so
  *    only the Hu-Koren-Volinsky formula is shared. Factors match to
  *    1e-6 relative (the two solvers and the distributed gram's
  *    summation order differ in ulps); the SERVED top-3 lists and
  *    overlap3 evidence column — the query's actual output — match
  *    EXACTLY.
  */
class RecsysDifferentialSpec extends SparkSpec {

  private def round4(x: Double): Double =
    new JBigDecimal(x).setScale(4, RoundingMode.HALF_UP).doubleValue()

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private lazy val model = MlQueries.als.get(spark, sfDir)

  private lazy val itemFactors: Map[Long, Array[Double]] =
    model.itemFactors.collect()
      .map(r => r.getInt(0).toLong ->
        r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap

  test("m6_item_similarity == driver replay (cosine + rank, exact)") {
    val got = SparkEntry.queries("m6_item_similarity")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq

    val norms = itemFactors.map { case (i, v) => i -> math.sqrt(dot(v, v)) }
    val expected = itemFactors.keys.filter(_ < 5).toSeq.sorted.flatMap { qi =>
      val qv = itemFactors(qi); val qn = norms(qi)
      itemFactors.keys.filter(_ != qi).toSeq
        .map(ci => (ci, round4(dot(itemFactors(ci), qv) / (norms(ci) * qn))))
        .sortBy { case (ci, cos) => (-cos, ci) }
        .take(3).zipWithIndex
        .map { case ((ci, cos), k) => (qi, ci, cos, (k + 1).toLong) }
    }
    assert(got == expected,
      s"m6 diverges from the driver replay; first got=${got.take(3)} " +
        s"expected=${expected.take(3)}")
  }

  test("m11_rec_coverage == driver replay (coverage/novelty rollup, exact)") {
    val got = SparkEntry.queries("m11_rec_coverage")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq

    val ratings = MlQueries.ratingsOf(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getFloat(2)))
    val users = ratings.map(_._1).distinct
    // the model's top-5 lists are m11's INPUT (model output, the
    // rows-only rationale); everything m11 computes FROM them is replayed
    val s = spark
    import s.implicits._
    val recs = AlsTrainer.recommendLists(
        model, users.toSeq.toDF("user_idx"), 5)
      .as[(Int, Array[Int])].collect()
      .flatMap { case (u, items) => items.map(u -> _) }

    // per-item popularity: sum of integral float quantities — exact in
    // double under any summation order, so round() is order-immune
    val pop: Map[Int, Long] = ratings.groupBy(_._2).map { case (i, rs) =>
      i -> math.round(rs.map(_._3.toDouble).sum)
    }
    val total = pop.values.sum
    val catalog = pop.size.toLong
    def cls(nInter: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(total / nInter)
    val pairs = recs.map { case (u, i) => (u, i, cls(pop(i))) }
    val nUsers = pairs.map(_._1).distinct.length.toLong
    val nPairs = pairs.length.toLong
    val nItems = pairs.map(_._2).distinct.length.toLong
    val scls = pairs.map(_._3).sum
    val expected = Seq((nUsers, nPairs, nItems, catalog,
      nItems * 10000L / catalog, scls * 1000L / nPairs))
    assert(got == expected, s"m11 diverges: got=$got expected=$expected")
  }

  /** Independent normal-equations solve: Cholesky decomposition (FoldIn
    * uses Gaussian elimination with partial pivoting), so the replay
    * shares no solver code with the operator under test.
    */
  private def choleskySolve(aIn: Array[Double], b: Array[Double]): Array[Double] = {
    val k = b.length
    val l = new Array[Double](k * k)
    for (i <- 0 until k; j <- 0 to i) {
      var s = aIn(i * k + j)
      for (p <- 0 until j) s -= l(i * k + p) * l(j * k + p)
      if (i == j) l(i * k + i) = math.sqrt(s)
      else l(i * k + j) = s / l(j * k + j)
    }
    val y = new Array[Double](k)
    for (i <- 0 until k) {
      var s = b(i)
      for (p <- 0 until i) s -= l(i * k + p) * y(p)
      y(i) = s / l(i * k + i)
    }
    val x = new Array[Double](k)
    for (i <- (k - 1) to 0 by -1) {
      var s = y(i)
      for (p <- (i + 1) until k) s -= l(p * k + i) * x(p)
      x(i) = s / l(i * k + i)
    }
    x
  }

  test("m12_fold_in == driver replay (independent solve; served rows exact)") {
    val got = SparkEntry.queries("m12_fold_in")(spark, sfDir)
      .collect()
      .map(r => (r.getInt(0).toLong, r.getString(1), r.getLong(2))).toSeq

    val k = model.rank
    val alpha = MlQueries.alsCfg.alpha
    val reg = MlQueries.alsCfg.regParam
    val yty = new Array[Double](k * k)
    itemFactors.values.foreach { y =>
      for (i <- 0 until k; j <- 0 until k) yty(i * k + j) += y(i) * y(j)
    }
    val orig = MlQueries.ratingsOf(spark, sfDir)
      .filter(col("user_idx") < 20).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getFloat(2)))
    // fold each re-keyed user from the published closed form
    val folded: Map[Long, Array[Double]] =
      orig.groupBy(_._1).map { case (u, rows) =>
        val a = yty.clone(); val b = new Array[Double](k)
        var nExplicit = 0L
        rows.foreach { case (_, item, cnt) =>
          val y = itemFactors(item.toLong)
          val r = cnt.toDouble
          val c1 = alpha * math.abs(r)
          val pref = if (r > 0.0) { nExplicit += 1; 1.0 + c1 } else 0.0
          for (i <- 0 until k; j <- 0 until k) a(i * k + j) += c1 * y(i) * y(j)
          for (i <- 0 until k) b(i) += pref * y(i)
        }
        for (i <- 0 until k) a(i * k + i) += reg * nExplicit
        val x = choleskySolve(a, b).map(v => if (v < 0) 0.0 else v)
        (u + 100000L) -> x
      }

    // factor-level agreement with the QUERY's fold (via the operator):
    // 1e-6 relative — two different solvers + distributed gram ulps
    val operatorFolded = graft.model.FoldIn.userFactors(model,
        MlQueries.ratingsOf(spark, sfDir).filter(col("user_idx") < 20)
          .select((col("user_idx") + 100000).cast("int").as("user_idx"),
            col("item_idx"), col("count")),
        alpha, reg)
      .collect().map(r => r.getInt(0).toLong ->
        r.getSeq[Double](1).toArray).toMap
    assert(operatorFolded.keySet == folded.keySet)
    val worst = folded.toSeq.flatMap { case (u, x) =>
      x.zip(operatorFolded(u)).map { case (a, b) =>
        math.abs(a - b) / math.max(1e-12, math.max(math.abs(a), math.abs(b)))
      }
    }.max
    assert(worst < 1e-6,
      s"independent Cholesky fold diverges from the operator: rel=$worst")

    // served rows: replay top-3 by (dot desc, item asc) from the
    // REPLAYED factors, overlap vs the model's own top-3 (model output
    // = input), and compare the query's emitted rows exactly
    val s2 = spark
    import s2.implicits._
    val modelRecs = AlsTrainer.recommendLists(model,
        orig.map(_._1).distinct.toSeq.toDF("user_idx"), 3)
      .as[(Int, Array[Int])].collect()
      .map { case (u, items) => (u + 100000L) -> items.toSet }.toMap
    val expected = folded.toSeq.sortBy(_._1).map { case (u, x) =>
      val top3 = itemFactors.toSeq
        .map { case (i, y) => (i, dot(x, y)) }
        .sortBy { case (i, sc) => (-sc, i) }
        .take(3).map(_._1)
      (u, top3.mkString(","),
        top3.toSet.intersect(modelRecs(u).map(_.toLong)).size.toLong)
    }
    assert(got == expected,
      s"m12 diverges from the driver replay; first got=${got.take(2)} " +
        s"expected=${expected.take(2)}")
  }
}
