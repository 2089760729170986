package graft

import org.apache.hadoop.fs.Path

import graft.queries.StreamingQueries

/** The stream landing probe goes through the Hadoop FileSystem, not
  * `java.io.File`: a landing under a `file:` URI scratch root (the shape of
  * an object-store or HDFS prefix) must still derive its shard width from
  * the landed file count and get its mod times staggered in name order.
  */
class StreamLandingSpec extends SparkSpec {

  test("a file: URI landing derives width 8 and its mod times ascend") {
    val base = new java.io.File("target/test-tmp/landing-uri").getAbsoluteFile
    spark.conf.set(Scratch.ConfKey, s"file:$base/graft_qtmp")
    try {
      val landing = StreamingQueries.landedOnce.get(spark, sfDir)
      assert(landing.startsWith("file:"))
      val ss = StreamingQueries.streamSession(spark, landing)
      assert(ss.conf.get("spark.sql.shuffle.partitions") == "8")
      val p = new Path(landing)
      val times = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).filter(_.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName).map(_.getModificationTime).toSeq
      assert(times.size == 8)
      assert(times.zip(times.tail).forall { case (a, b) => a < b },
        s"mod times must ascend in name order: $times")
    } finally {
      spark.conf.unset(Scratch.ConfKey)
      StreamingQueries.clearCaches()
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(base)
    }
  }
}
