package graft

import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the synthetic star schema under
  * /root/testdata (see TESTDATA.md). All queries take the sf dir as a
  * parameter so the same code runs at any scale factor; at cluster scale the
  * same call reads a partitioned directory tree instead of one file.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts has shipped as parquet TIMESTAMP(NANOS) in some generator
    // versions, which Spark 4 only reads as a long when this legacy flag
    // is on (set here so it holds under any caller-supplied session).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Sources.parquet(spark, s"$sfDir/$name.parquet")
  }

  /** events.ts (nanos-since-epoch long) as a microsecond-precision
    * timestamp — same truncation DuckDB applies when reading nanos.
    *
    * The division MUST be exact integer arithmetic: Spark's `/` promotes
    * long operands to DOUBLE, and a nanos-epoch magnitude (~1.7e18)
    * exceeds double's 53-bit mantissa — the truncated micros came out
    * off by up to ~hundreds of ns (caught by j12_attribution's raw
    * gap_us oracle column). Decimal division is exact; the long cast
    * truncates toward zero = floor for these positive epochs, matching
    * DuckDB's nanos read.
    */
  def eventTime(tsNanos: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.timestamp_micros(
      (tsNanos.cast("decimal(20,0)") / 1000L).cast("long"))

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events` with `ts` NORMALIZED to the engine's canonical shape:
    * nanos-since-epoch LongType. The generator has shipped the column in
    * two physical layouts — parquet TIMESTAMP(NANOS) (arrives as a nanos
    * long under `nanosAsLong`) and parquet TIMESTAMP(MICROS) (arrives as
    * TIMESTAMP_NTZ) — so the loader branches on the READ schema and every
    * downstream consumer (`eventTime`, the hour-grid `div` arithmetic,
    * the as-of joins) sees one shape regardless of file vintage. The
    * NTZ→epoch conversion casts through TIMESTAMP under the session's
    * pinned UTC zone (Sessions.local / the oracle both run UTC), so the
    * wall-clock value maps to the identical epoch DuckDB's `epoch_ns`
    * computes; micros→nanos is a lossless *1000 widening.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ => df.withColumn("ts",
        org.apache.spark.sql.functions.unix_micros(
          df.col("ts").cast("timestamp")) * 1000L)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** documents with the tokenized-text projection shared by the text
    * pipeline (PipelineQueries.tokenized, the c5 feature extraction, and
    * QualityClassifierSpec all consume THIS definition — the >=3-token
    * guard and the whitespace/lowercase token rule are load-bearing for
    * oracles and the distillation AUC floor, so there is exactly one copy).
    */
  def tokenizedDocs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, size}
    documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
        graft.functions.TextFunctions.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
  }
}

/** One registered query: a Spark implementation plus (when SQL-expressible)
  * an equivalent DuckDB oracle over the same parquet tables.
  *
  * Determinism contract (SURVEY.md §7.3 hazards 2/6): every oracled query
  * ends in a TOTAL order (unique tie-break key) replicated on both sides, and
  * every floating aggregate is rounded at the decimal grain of its true value
  * so the Spark and DuckDB doubles are bit-identical despite different
  * summation order.
  *
  * `needs` lists the [[Artifact]]s the query reads — a fitted model, an
  * index, a landed fixture. Bench builds and times them as their own
  * spans before timing any query, and RegistryAuditSpec's walk checks that a
  * construction builds no artifact it does not declare.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    needs: Seq[Artifact[_]] = Nil)
