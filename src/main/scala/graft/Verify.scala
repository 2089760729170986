package graft

import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Coverage is ASSERTED (VERDICT r7 #3): a manifest.json records every
  * registered query as dumped/failed, the summary line states n/N, and a
  * full (unfiltered) run exits nonzero if any query produced no output —
  * six rows going silently missing cost round 7 its only hard signal for
  * them.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // extra args = query-name filter (dev loop, mirrors Bench): dump only
    // the named queries. The driver passes exactly two args → full dump.
    val filter = args.drop(2).toSet
    val unknown = filter.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => filter.isEmpty || filter(name) }
    val dumped = Seq.newBuilder[String]
    val failed = Seq.newBuilder[(String, String)]
    // The manifest is rewritten after every query (like Bench's artifact
    // flush): a mid-run death leaves an explicit record of how far it got
    // instead of an ambiguous partial directory listing.
    def writeManifest(): Unit = {
      val d = dumped.result(); val f = failed.result()
      val json =
        s"""{"registered":${SparkEntry.queries.size},"selected":${selected.size},
           |"dumped":[${d.map(q).mkString(",")}],
           |"failed":{${f.map { case (n, e) => s"${q(n)}:${q(e)}" }.mkString(",")}}}"""
          .stripMargin.replace("\n", "")
      Files.writeString(Paths.get(s"$outDir/manifest.json"), json)
    }
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        dumped += name
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
        System.err.println(s"[verify] $name failed: $msg")
        failed += ((name, msg))
      }
      writeManifest()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Scratch.sweep(spark)
    spark.stop()
    val nDumped = dumped.result().size
    val nFailed = failed.result().size
    println(s"VERIFY dumped $nDumped/${selected.size} queries" +
      (if (nFailed > 0) s" (FAILED: $nFailed — see $outDir/manifest.json)" else ""))
    if (filter.isEmpty && nDumped != SparkEntry.queries.size) {
      System.err.println(s"[verify] INCOMPLETE: $nDumped/${SparkEntry.queries.size} " +
        "registered queries dumped — failing loudly per harness contract")
      sys.exit(1)
    }
  }
}
