package graft.operators

import graft.sources.Sources
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction — the table-maintenance half of the layout story.
  *
  * Streaming sinks, per-key repartition writes, and incremental appends
  * all leave directories of KB-scale files; at 100 TB a scan's task count
  * (and the namenode's metadata load) is driven by file COUNT, not bytes,
  * so periodic compaction to ~target-sized files is a first-class pipeline
  * operation (what Delta/Iceberg expose as OPTIMIZE).
  *
  * The rewrite reads the directory once, repartitions to
  * `ceil(totalBytes / targetFileBytes)` output files, and writes to a
  * fresh directory — never in place (a failed in-place rewrite loses
  * data; the caller swaps directories after success, which is the atomic
  * half a real table format's manifest commit provides). An optional
  * `sortCol` re-sorts within partitions during the rewrite so compaction
  * also RESTORES row-group min/max locality (see DataSkippingSpec /
  * ZOrderSpec — append streams interleave ranges, and compaction is the
  * natural place to fix the layout back up).
  */
object Compaction {

  /** One recursive listing shared by every metric — the hidden-file rule
    * lives in exactly one place (and on an object store each extra listing
    * is a paid remote walk).
    */
  private def listData(spark: SparkSession, dir: String): (Long, Long) = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootDepth = fs.makeQualified(path).depth()
    // hidden-ness applies to EVERY path component below the root, not just
    // the leaf: the file streaming sink writes _spark_metadata/0, 1, … —
    // log files whose leaf names look like data but live in a hidden dir
    def isHidden(p: Path): Boolean = {
      var cur = p
      var hidden = false
      while (cur != null && cur.depth() > rootDepth) {
        val n = cur.getName
        if (n.startsWith("_") || n.startsWith(".")) hidden = true
        cur = cur.getParent
      }
      hidden
    }
    val it = fs.listFiles(path, true)
    var bytes = 0L
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (!isHidden(f.getPath)) { bytes += f.getLen; n += 1 }
    }
    (bytes, n)
  }

  /** Total bytes of data files under `dir` (non-hidden, non-metadata). */
  def dataBytes(spark: SparkSession, dir: String): Long = listData(spark, dir)._1

  /** Number of data files under `dir`. */
  def dataFiles(spark: SparkSession, dir: String): Long = listData(spark, dir)._2

  /** Rewrite the parquet directory `srcDir` into `destDir` with
    * ~`targetFileBytes` files, optionally re-sorted within partitions on
    * `sortCols` to restore data-skipping locality. Returns the file count
    * written.
    */
  def compactParquet(spark: SparkSession, srcDir: String, destDir: String,
      targetFileBytes: Long,
      sortCols: Seq[org.apache.spark.sql.Column] = Nil): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val bytes = dataBytes(spark, srcDir)
    // clamp BEFORE the Int narrowing: a tiny target over a huge directory
    // must not wrap to a negative partition count
    val nFiles = math.min(Int.MaxValue.toLong,
      math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)).toInt
    val df = Sources.parquet(spark, srcDir)
    val compacted =
      if (sortCols.isEmpty) df.repartition(nFiles)
      else df.repartitionByRange(nFiles, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
    compacted.write.mode("overwrite").parquet(destDir)
    dataFiles(spark, destDir)
  }
}
