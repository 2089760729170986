package graft.streaming

import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming corpus ingest with ledger dedup — the streaming face of
  * d8_incremental_dedup: document files land in a directory; each
  * micro-batch is content-hashed, deduped within the batch (keep-first by
  * doc_id), anti-joined against the persisted content-hash ledger, and the
  * survivors are appended to the corpus while their hashes are appended to
  * the ledger. `Trigger.AvailableNow` + checkpoint = "process whatever
  * landed since last run, each file exactly once" — the same batch/stream
  * dual cadence as EventStream.processFilesOnce.
  *
  * Scale notes:
  *  - the ledger join ships (hash, doc_id) only, never document text, and
  *    it is a plain anti equi-join — at 100 TB the ledger is bucketed by
  *    hash so the probe co-locates (d8's batch face documents this);
  *  - corpus is written BEFORE the ledger: a crash between the two writes
  *    re-delivers the batch and re-appends duplicates (at-least-once),
  *    which curation tolerates — the reverse order would mark hashes as
  *    seen with no document behind them and silently LOSE data. A
  *    transactional table format collapses the two writes into one commit;
  *    plain parquet keeps the failure mode explicit instead.
  */
object DocIngest {

  /** `curate` runs inside each micro-batch AFTER dedup — the hook where
    * the batch Curation stages (quality gates, per-key caps, PII
    * redaction) compose onto the stream unchanged: they are
    * DataFrame => DataFrame, so the same stage list drives the nightly
    * batch job and this incremental ingest (the batch/stream dual-cadence
    * contract). Dropped-by-curation documents do NOT enter the ledger:
    * a later re-crawl under a relaxed gate can still admit them.
    */
  def ingestOnce(spark: SparkSession, srcDir: String, corpusDir: String,
      ledgerDir: String, checkpointDir: String,
      curate: DataFrame => DataFrame = identity): Unit = {
    // a drain-once job scheduled before any producer wrote must no-op,
    // not crash on schema inference
    val schema =
      try Sources.parquetSchema(spark, srcDir)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).exists(c =>
              c.startsWith("PATH_NOT_FOUND")
                || c.startsWith("UNABLE_TO_INFER_SCHEMA")) =>
          return
      }
    val q = spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val hashed = batch.withColumn("h", md5(col("text")))
          .withColumn("_rn", row_number().over(
            Window.partitionBy(col("h")).orderBy(col("doc_id"))))
          .filter(col("_rn") === 1).drop("_rn")
        // only genuine ABSENCE may skip the dedup join (first ever run).
        // A ledger that exists but fails to read must FAIL the batch —
        // falling open would silently re-ingest the whole corpus as
        // duplicates until someone noticed.
        val ledgerPath = new org.apache.hadoop.fs.Path(ledgerDir)
        val ledgerExists = ledgerPath
          .getFileSystem(s.sparkContext.hadoopConfiguration).exists(ledgerPath)
        val deduped =
          if (ledgerExists)
            hashed.join(Sources.parquet(s, ledgerDir).select("h"), Seq("h"),
              "left_anti")
          else hashed
        val fresh = curate(deduped)
        fresh.cache()
        try {
          fresh.drop("h").write.mode("append").parquet(corpusDir)
          fresh.select("h").write.mode("append").parquet(ledgerDir)
        } finally fresh.unpersist()
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
