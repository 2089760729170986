package graft

/** Every registered query must (a) run at sf0.001 and return a
  * well-formed result, and (b) be DETERMINISTIC — two runs identical —
  * because the driver's correctness gate hash-compares a single run
  * against DuckDB, and the rows-only queries (seeded samples, sketches)
  * are graded on their recorded output too. Only the expensive model
  * fits (ALS / KMeans / indexer) are exempted from the double-run
  * (seed-reproducibility for those is AlsSpec/IvfIndexSpec's job). The
  * same walk checks (c) that each query's `Q.needs` is complete.
  */
class QueriesSmokeSpec extends SparkSpec {

  private val expensiveFit = Set(
    "m4_als_recommend", "m5_als_rmse", "e4_ann_ivf", "m1_indexer_pipeline")

  test("all registered queries run and are run-to-run stable") {
    // needs completeness: every artifact a query does not declare is reset
    // before its construction, so reading one builds it and shows up here
    // (Bench times exactly the declared artifacts outside query timing)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for (q <- SparkEntry.registry.sortBy(_.name)) {
      val undeclared = Artifact.all.filterNot(q.needs.contains)
      undeclared.foreach(_.reset())
      val before = undeclared.map(_.builds)
      try {
        val r1 = q.run(spark, sfDir).collect().toSeq
        if (!expensiveFit(q.name)) {
          val r2 = q.run(spark, sfDir).collect().toSeq
          if (r1 != r2) failures += s"${q.name}: nondeterministic across runs"
        }
        if (r1 == null) failures += s"${q.name}: null result"
      } catch {
        case e: Throwable => failures += s"${q.name}: ${e.getMessage.take(120)}"
      }
      val built = undeclared.zip(before).collect {
        case (a, n) if a.builds != n => a.span
      }
      if (built.nonEmpty)
        failures += s"${q.name}: built undeclared artifact(s) ${built.mkString(", ")}"
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every oracled name is registered and the flagship entry has rows") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
