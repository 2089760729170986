package graft

import java.nio.file.{Files, Paths}

/** Optimization-round plan dumper: writes `.explain("formatted")` output
  * for the named queries to `<outDir>/<name>_<suffix>.txt` — the
  * before/after plan evidence files the optimization rounds commit under
  * `plans/r<N>/` (the judge checks plan claims against these files).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.PlanDump plans/r17 before d10_fuzzy_pairs f6_markov_stationary"
  *
  * The dump is the AQE-initial formatted plan (the shape the optimizer
  * requested — the same basis ExchangeCensus budgets), taken at the bench
  * scale/core-count so broadcast decisions and scan split counts match
  * what Bench times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query>...")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
      println(s"[plandump] $outDir/${n}_$suffix.txt (${txt.length} chars)")
    }
    Scratch.sweep(spark)
    spark.stop()
  }
}
