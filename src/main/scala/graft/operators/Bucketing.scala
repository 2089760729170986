package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed (co-located) joins: both sides pre-hashed into the same bucket
  * layout on the join key at WRITE time, so the join reads bucket i against
  * bucket i with no shuffle exchange on either side.
  *
  * This is the storage-level answer to the biggest 100 TB cost: a
  * fact-fact join (lineitem ⨝ orders) otherwise shuffles both full tables
  * every run. Bucketing pays one shuffle once, at write, and every
  * subsequent join/aggregation on the key is exchange-free.
  * BucketingSpec asserts the no-Exchange plan.
  */
object Bucketing {

  /** Persist as a bucketed, bucket-sorted table (requires saveAsTable —
    * bucket metadata lives in the catalog).
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    // single-part names only: a dotted name would back-tick-quote into one
    // identifier (dropping nothing) while the real location is
    // warehouse/<db>.db/<tbl>; and the stale-dir path below is the
    // LOWERCASED name the catalog uses for the managed location
    require(!table.contains("."),
      s"writeBucketed takes a single-part table name, got '$table'")
    val spark = df.sparkSession
    // a managed-table location can survive a previous session whose
    // in-memory catalog is gone; overwrite then refuses to reuse it —
    // drop both the catalog entry and any stale directory first
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val warehouse = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(warehouse, table.toLowerCase), true)
    reapDeadPidTables(fs, warehouse)
    df.write.format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .mode("overwrite")
      .saveAsTable(table)
  }

  /** Reap per-pid bucketed-table directories whose owning JVM is gone —
    * table names are pid-suffixed (IoQueries.bucketTables) so concurrent
    * JVMs never share a managed location, and this keeps the shared
    * warehouse from accumulating one table set per past run. Same
    * dead-pid-and-stale check as Scratch.sweep ([[graft.Scratch.orphaned]]),
    * through the Hadoop FileSystem, so an HDFS or object-store warehouse
    * is reaped too.
    */
  private def reapDeadPidTables(fs: FileSystem, warehouse: Path): Unit = {
    val pidDir = "q_b_.*_p(\\d+)".r
    if (fs.exists(warehouse)) fs.listStatus(warehouse).foreach { st =>
      st.getPath.getName match {
        case pidDir(pid) if graft.Scratch.orphaned(st, pid) =>
          fs.delete(st.getPath, true)
        case _ => ()
      }
    }
  }

  /** Join two same-bucketed tables on their bucket key. */
  def colocatedJoin(spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), Seq(key))
}
