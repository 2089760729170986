package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface (SURVEY.md §2.1).
  *
  * Parquet is the primary format (S1/S2); headerless CSV with positional
  * schema matches the reference's factor-matrix exports (S5/S6); `jdbc`
  * covers the SQLite metadata databases (S4). This offline build ships no
  * SQLite JDBC driver, so the supported S4 contract is: convert each SQLite
  * table to parquet once (outside the engine) and read it with `parquet` —
  * the EDA pipeline's `SELECT * FROM songs` then behaves identically. The
  * `sqlite` method below is the online-cluster path, kept for API parity.
  */
object Sources {

  /** The engine's one parquet reader: the frame `spark.read.parquet(path)`
    * gives, without the Spark job its schema inference runs. The schema
    * comes from [[parquetSchema]], one footer read on the driver, and is
    * handed to the reader, so building the frame launches no job (warm,
    * 4 cores: an inferred read took ~75 ms and one job, this read 6-9 ms
    * of which the footer is 0.4-0.7 ms). Footers are read on every call,
    * with no memo: the file may have been rewritten since (testdata
    * regenerations, scratch cuts), and `Tables.events` branches on the
    * `ts` layout read.
    * Partition columns of a `partitionBy` directory are discovered from
    * the directory names and appended by Spark, as on an inferred read.
    *
    * Every parquet read in the engine goes through here (a source guard in
    * ParquetReadSpec fails on any other). The reads left to a reader's own
    * inference are the ones whose point it is: IoQueries' s10 `mergeSchema`
    * read (schema evolution across files), and its s7 csv, s8 json, s9 orc
    * and s13 text round-trips.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(parquetSchema(spark, path)).parquet(path)

  /** The data schema `spark.read.parquet(path)` would infer (a read
    * appends any partition columns), read on the driver from the footer
    * of the one file inference would pick:
    * `_common_metadata`, else `_metadata`, else the first data file in
    * path order, skipping the names Spark's file index skips. A
    * missing path raises `PATH_NOT_FOUND` and a path with no such file
    * `UNABLE_TO_INFER_SCHEMA`, the errors of an inferred read, which the
    * stream drains rely on to no-op before any producer wrote.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val qualified = fs.makeQualified(root)
    val status =
      try fs.getFileStatus(qualified)
      catch {
        case _: FileNotFoundException =>
          throw GraftBridge.pathNotFound(qualified.toString)
      }
    val files =
      (if (status.isDirectory) leafFiles(fs, qualified) else Seq(status))
        .sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    val pick = summaries.flatMap(n => files.find(_.getPath.getName == n))
      .headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .getOrElse(throw GraftBridge.unableToInferParquetSchema())
    GraftBridge.parquetFooterSchema(spark, pick, conf)
  }

  private def leafFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq
      .filterNot(st => GraftBridge.hiddenPathName(st.getPath.getName))
      .flatMap(st => if (st.isDirectory) leafFiles(fs, st.getPath) else Seq(st))

  /** Headerless CSV with schema assigned by position (EDA cell 23's
    * pandas `names=` idiom).
    */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "false").csv(path)

  /** S4: one SQLite table via JDBC. Requires org.xerial:sqlite-jdbc on the
    * cluster classpath; not resolvable in this offline build — use the
    * parquet-converted table instead (see object scaladoc).
    */
  def sqlite(spark: SparkSession, dbPath: String, table: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", s"jdbc:sqlite:$dbPath")
      .option("dbtable", table)
      .load()

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** The engine's one per-build checkpoint: write `df` to `path` as
    * overwrite parquet and hand back the [[parquet]] read of it, so the
    * returned frame's lineage starts at the files (an iterative round, a
    * frame several consumers scan). Every build pays the write again. A
    * frame shared once per run across queries is `Scratch.cut` instead,
    * which memoizes the write per cut name. A source guard in
    * ParquetReadSpec fails on any other write-then-read of one path.
    */
  def checkpoint(df: DataFrame, path: String): DataFrame = {
    writeParquet(df, path)
    parquet(df.sparkSession, path)
  }

  /** Single-file CSV export (S6/S7) — coalesce(1) serializes the final
    * stage; only for export-sized frames (factor matrices, genre tables),
    * never for fact data.
    */
  def writeSingleCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("header", header.toString).csv(path)
}
