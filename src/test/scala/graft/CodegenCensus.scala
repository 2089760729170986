package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's generated-class cache, as the census and CodegenCacheSpec read
  * it: the compile count is public (`CodegenMetrics`), the cache itself is
  * private to Spark and reached reflectively.
  */
object CodegenCache {

  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def cache: AnyRef = {
    val cg = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val m = cg.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(cg)
  }

  def entries: Long = cache.getClass.getMethod("size").invoke(cache).asInstanceOf[Long]

  def clear(): Unit = cache.getClass.getMethod("invalidateAll").invoke(cache)
}

/** Registry codegen census: walks every registered query `rounds` times
  * (default 2) in one JVM, in name order, each built and then run through a
  * `noop` write (Bench's traffic), on the engine's own session:
  * {{{
  *   SPARK_GRAFT_CPUS=4 sbt "Test/runMain graft.CodegenCensusMain <sf dir> [rounds]"
  * }}}
  * Per round it prints one `CODEGEN round=` line: Janino compiles (the
  * change in `CodegenMetrics.METRIC_COMPILATION_TIME`'s count), the
  * codegen cache's entry count, Janino seconds, wall seconds, errors, and
  * heap after `System.gc()` and Metaspace in MB. While the cache has not
  * filled, its entry count after a round is the number of distinct classes
  * generated so far. Every query that compiles after round 1 prints a
  * `CODEGEN-Q` line. With a cache that holds the working set, a query that
  * compiles in round 2 but not in round 3 first met that code in round 2
  * (a plan that reads an artifact built during round 1); one that compiles
  * in every round generates code that differs on every run. BENCH_NOTES
  * ("Codegen cache") records the runs that sized
  * [[Sessions.CodegenCacheEntries]].
  */
object CodegenCensusMain {
  import CodegenCache.compiles

  private def mb(bytes: Long): Long = bytes >> 20

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CodegenCensusMain <sf dir> [rounds]")
    val sfDir = args(0)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val metaspace = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "Metaspace")
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    println(s"CODEGEN sf=$sfDir queries=${names.size} " +
      s"maxEntries=${spark.conf.get("spark.sql.codegen.cache.maxEntries")}")
    val rounds = args.lift(1).map(_.toInt).getOrElse(2)
    for (round <- 1 to rounds) {
      Scratch.resetCuts() // as Bench does per run
      val (c0, j0, t0) = (compiles,
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
        System.nanoTime())
      var errors = 0
      for ((name, fn) <- names) {
        val before = compiles
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          errors += 1
          println(s"CODEGEN-ERR round=$round $name ${String.valueOf(e.getMessage).take(160)}")
        }
        if (round > 1 && compiles > before)
          println(s"CODEGEN-Q round=$round $name compiles=${compiles - before}")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val janino = (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .compileTime - j0) / 1e9
      val n = compiles - c0
      System.gc()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      println(f"CODEGEN round=$round compiles=$n entries=${CodegenCache.entries} " +
        f"janino_s=$janino%.1f wall_s=$wall%.1f errors=$errors heap_mb=${mb(heap)} " +
        s"metaspace_mb=${metaspace.map(p => mb(p.getUsage.getUsed)).getOrElse(-1L)}")
    }
    Scratch.sweep(spark)
    spark.stop()
  }
}
