package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialize-vs-recompute CROSSOVER measurement for the round-14 scan
  * census (VERDICT r14 "what's wrong" #2): the 14 census cuts each cost a
  * write barrier + parquet round-trip at sf0.1 and were kept on a 100 TB
  * argument (each replaces 2-24 extra fact passes). This experiment
  * measures both forms — `spark.graft.cutMaterialize` true vs false — at
  * sf0.1 AND at an R-times scaled generation of the hot tables, so the
  * argument becomes a number (BENCH_NOTES records the table; the d10/d16
  * experiments are the precedent).
  *
  * Scaled generation (to /tmp, never /root/testdata): each hot table is
  * replicated R times with key-space offsets that preserve join integrity
  * (orderkeys offset in lineitem AND orders) and replica-rotated document
  * text (shingle sets must differ across replicas or every shingle's df
  * multiplies by R and d13's rare-anchor band empties — the opposite
  * failure of the one it has at real scale). Queries keep their native
  * key densities: part/user/value domains are NOT offset, so per-key row
  * counts grow R-fold — the direction real corpora grow.
  *
  * Run: sbt "Test/runMain graft.CensusCrossoverExperiment [R] [runs] [set]"
  * (defaults R=10, runs=2; per-query MIN over runs, Bench's rule).
  * `set` picks the cut list: `r14` (default, the census table the r15
  * BENCH_NOTES crossover records), `r15` (the round-15 cut sites — gram
  * tables, u-family batches, e-family query frames), `all`, or an explicit
  * comma-separated query list.
  */
object CensusCrossoverExperiment {

  def main(args: Array[String]): Unit = {
    val r = args.headOption.map(_.toInt).getOrElse(10)
    val runs = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val baseDir = "/root/testdata/sf0.1"
    val scaledDir = s"/tmp/graft_census_x$r"
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))

    generate(spark, baseDir, scaledDir, r)

    // warmup through the whole stack (Bench's rule)
    Tables.documents(spark, baseDir).groupBy("lang").count()
      .write.format("noop").mode("overwrite").save()

    def timeOne(name: String, dir: String, mat: Boolean): Double = {
      spark.conf.set(Scratch.CutKey, mat.toString)
      try {
        (1 to runs).map { _ =>
          // every timed materialized run must PAY its write — the session
          // memo (Scratch.cut, ADVICE r15) would otherwise amortize it
          // away and the crossover table would stop measuring the barrier
          Scratch.resetCuts()
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.min
      } finally spark.conf.set(Scratch.CutKey, "true")
    }

    val cutSet = args.drop(2).headOption.getOrElse("r14") match {
      case "r14" => Census.censusCuts
      case "r15" => Census.round15Cuts
      case "all" => Census.allCuts
      case names => names.split(',').toSeq
    }
    println(f"CROSSOVER ${"query"}%-24s ${"scale"}%-8s mat_s   live_s  live/mat")
    for (dir <- Seq(baseDir, scaledDir); name <- cutSet) {
      val scale = if (dir == baseDir) "sf0.1" else s"x$r"
      val res =
        try {
          val tMat = timeOne(name, dir, mat = true)
          val tLive = timeOne(name, dir, mat = false)
          f"$tMat%7.2f $tLive%7.2f  ${tLive / tMat}%5.2f"
        } catch { case e: Throwable =>
          s"ERROR ${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}"
        }
      println(f"CROSSOVER $name%-24s $scale%-8s $res")
    }
    Scratch.sweep(spark)
    spark.stop()
  }

  /** Replicate the five hot tables R-fold into outDir (skips if present). */
  def generate(s: SparkSession, baseDir: String, outDir: String, r: Int): Unit = {
    val done = new java.io.File(s"$outDir/_OK")
    if (done.exists()) { println(s"CROSSOVER scaled dir $outDir reused"); return }
    new java.io.File(outDir).mkdirs()
    val rep = explode(sequence(lit(0L), lit(r - 1L))).as("rep")

    val docs = Tables.documents(s, baseDir)
    val dOff = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    // rotate words by (rep mod n): replicas share vocabulary and length
    // statistics but almost no k-shingles (the wrap seam excepted)
    docs.select(rep, col("*"))
      .select((col("doc_id") + col("rep") * dOff).as("doc_id"),
        when(col("rep") === 0, col("text")).otherwise(concat_ws(" ",
          concat(
            slice(split(col("text"), " "),
              (pmod(col("rep"), size(split(col("text"), " "))) + 1).cast("int"),
              size(split(col("text"), " "))),
            slice(split(col("text"), " "), lit(1),
              pmod(col("rep"), size(split(col("text"), " "))).cast("int")))))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val ev = Tables.events(s, baseDir) // ts normalized to nanos long
    val eAgg = ev.agg(max(col("event_id")), min(col("ts")), max(col("ts"))).head
    val eOff = eAgg.getLong(0) + 1
    val span = eAgg.getLong(2) - eAgg.getLong(1) + 3600L * 1000000000L
    ev.select(rep, col("*"))
      .select((col("event_id") + col("rep") * eOff).as("event_id"),
        (col("ts") + col("rep") * span).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    val ord = Tables.orders(s, baseDir)
    val oOff = ord.agg(max(col("o_orderkey"))).head.getLong(0) + 1
    ord.select(rep, col("*"))
      .select((col("o_orderkey") + col("rep") * oOff).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    Tables.lineitem(s, baseDir).select(rep, col("*"))
      .select((col("l_orderkey") + col("rep") * oOff).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate"))
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    val emb = Tables.embeddings(s, baseDir)
    val vOff = emb.agg(max(col("vec_id"))).head.getLong(0) + 1
    emb.select(rep, col("*"))
      .select((col("vec_id") + col("rep") * vOff).as("vec_id"),
        col("embedding"), col("label"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    done.createNewFile()
    println(s"CROSSOVER generated $outDir at x$r")
  }
}
