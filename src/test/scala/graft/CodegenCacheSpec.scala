package graft

/** Spark's generated-class cache holds the engine's working set, so a
  * repeated query compiles nothing (see [[Sessions.CodegenCacheEntries]]).
  * The suite session runs the engine's setting; at Spark's default of 100
  * entries the second round below recompiles most of the first.
  */
class CodegenCacheSpec extends SparkSpec {

  /** Single-table relational queries, built on the suite session. Their
    * generated code is the same on every run; multi-join plans are left
    * out, because AQE can re-plan a stage differently from run to run
    * (b2_tpch_q5 recompiled 4-7 classes in one of its second runs).
    */
  private val queries = Seq(
    "a3_group_sum", "a7_summary_stats", "a8_histogram", "a12_rollup",
    "a13_pivot", "a14_cube", "a15_percentiles", "b4_tpch_q1", "b6_tpch_q6",
    "f1_funnel", "o1_sort", "p1_project_filter", "set_union_distinct",
    "w2_topk_per_key", "w3_tumbling_window", "w6_running_total")

  /** Classes compiled per query, in run order. */
  private def round(names: Seq[String]): Seq[(String, Long)] =
    names.map { q =>
      val before = CodegenCache.compiles
      SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
      q -> (CodegenCache.compiles - before)
    }

  test("the suite session runs the engine's codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Sessions.CodegenCacheEntries.toString)
  }

  test("a repeated round of queries compiles no class") {
    spark.catalog.clearCache()
    // emptied first, so round 1's count does not depend on what earlier
    // suites in this JVM compiled
    CodegenCache.clear()
    val first = round(queries).map(_._2).sum
    val again = round(queries).filter(_._2 > 0)
    // planted control: the first round alone overflows Spark's default
    assert(first > 100, s"round 1 compiled only $first classes")
    assert(again.isEmpty, s"round 2 recompiled, of round 1's $first classes: " +
      again.map { case (q, n) => s"$q $n" }.mkString(", "))
  }

  test("a repeated stream drain, each on its own newSession, compiles no class") {
    // with per-session artifact isolation every new session got its own
    // executor class loader, a new codegen cache key: 19 recompiles a drain
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    CodegenCache.clear()
    val first = round(Seq("st1_stream_hourly")).map(_._2).sum
    val second = round(Seq("st1_stream_hourly")).map(_._2).sum
    assert(first > 0)
    assert(second == 0, s"the second drain recompiled $second of $first classes")
  }
}
