package graft.streaming

import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming CDC apply — the streaming face of `u8_cdc_apply`: change
  * ops (I/U/D keyed by entity, ordered by (ts, op_id)) land as parquet
  * files; each micro-batch folds into a persisted last-writer-wins
  * state table, with delete tombstones RETAINED in the state (not
  * dropped) so a late-arriving older op for a deleted key cannot
  * resurrect it. Readers take `currentState` (tombstones filtered) —
  * exactly u8's survivor set.
  *
  * Why this is safe under re-delivery: the merge is max-of-(ts, op_id)
  * per key — associative, commutative, and IDEMPOTENT — so
  * `Trigger.AvailableNow` + checkpoint's at-least-once file replay
  * cannot change the final state (CdcStreamSpec replays a batch to pin
  * this). That is also the 100 TB shape: each micro-batch costs ONE
  * partial-combining aggregate over (state ∪ batch) — no window, no
  * per-key sort of history, state carries exactly one row per live or
  * tombstoned key.
  *
  * The rewrite of the state table is atomic-by-rename per directory
  * version (`v<k>` subdirs + a `_LIVE` pointer file, SnapshotStore's
  * readers-never-see-partial discipline in miniature): a crash between
  * "write new version" and "move pointer" leaves the old state live and
  * the next drain re-folds the same batch idempotently.
  */
object CdcStream {

  private val Pointer = "_LIVE"

  private def fs(s: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Every version dir under stateDir (committed or not), as
    * (seq, write-complete, path), newest-first by the persisted sequence
    * number. Version names carry ONE monotonic counter persisted in the
    * dir name itself — the next publish is max(seq)+1 — because the two
    * obvious "newness" signals both lie across restarts: micro-batch ids
    * reset to 0 with a fresh checkpoint, and nanoTime is not comparable
    * across JVM/host reboots (ADVICE r13); either could make recovery or
    * GC prefer a STALE fold and silently discard committed keys.
    * Write-complete = the dir carries this module's own `_COMMIT` marker
    * (written explicitly after the parquet job returns — relying on
    * parquet's `_SUCCESS` would break on deployments that disable
    * mapreduce's success markers, turning EVERY fold into apparent crash
    * garbage) or, for dirs written by the legacy `v<batch>-<nanos>`
    * naming, parquet's `_SUCCESS`. A first-batch crash mid-write
    * (partial v-dir, no marker, no pointer yet) is recognizably garbage
    * rather than a recovery candidate. Legacy-named dirs parse their
    * batch id as the sequence so an upgraded state dir stays visible to
    * recovery and reclaimable by GC.
    */
  private[streaming] val Commit = "_COMMIT"

  private def versionDirs(s: SparkSession, stateDir: String)
      : Seq[(Long, Boolean, org.apache.hadoop.fs.Path)] = {
    val f = fs(s, stateDir)
    val root = new org.apache.hadoop.fs.Path(stateDir)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(st => st.isDirectory
        && st.getPath.getName.matches("v\\d+(-\\d+)?"))
      .map { st =>
        val seq = st.getPath.getName.stripPrefix("v")
          .takeWhile(_.isDigit).toLong
        val done = f.exists(
          new org.apache.hadoop.fs.Path(st.getPath, Commit)) ||
          f.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS"))
        (seq, done, st.getPath)
      }
      .sortBy { case (seq, _, _) => -seq }
  }

  private def livePath(s: SparkSession, stateDir: String): Option[String] = {
    val f = fs(s, stateDir)
    val ptr = new org.apache.hadoop.fs.Path(s"$stateDir/$Pointer")
    val fromPointer =
      if (!f.exists(ptr)) None
      else {
        val in = f.open(ptr)
        try {
          val v = scala.io.Source.fromInputStream(in).mkString.trim
          if (v.isEmpty) None else Some(s"$stateDir/$v")
        } finally in.close()
      }
    // Recovery: a pointer that is absent or names a missing dir (a crash
    // window, or a failed swap) must NOT read as "empty state" — that would
    // silently re-fold the next batch against nothing, discarding every
    // previously committed key/tombstone. Fall back to the highest-sequence
    // version dir that is WRITE-COMPLETE (`_SUCCESS` present): a crash
    // mid-parquet-write leaves a partial dir with no marker, which must be
    // skipped rather than read as the committed fold.
    fromPointer.filter(p => f.exists(new org.apache.hadoop.fs.Path(p)))
      .orElse(versionDirs(s, stateDir)
        .collectFirst { case (_, true, p) => p.toString })
  }

  /** Fold every already-landed op file into the state exactly once
    * (Trigger.AvailableNow drain, same cadence contract as
    * DocIngest.ingestOnce). Op schema: (key LONG, ts LONG, op_id LONG,
    * op STRING in I/U/D, payload LONG).
    */
  def applyOnce(spark: SparkSession, srcDir: String, stateDir: String,
      checkpointDir: String): Unit = {
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
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val prev = livePath(s, stateDir).map(Sources.parquet(s, _))
        val all = prev match {
          case Some(st) => st.unionByName(batch)
          case None => batch
        }
        // last-writer-wins: ONE partial-combining max-of-struct per key;
        // tombstones stay in state so late older ops cannot resurrect
        val next = all
          .groupBy(col("key"))
          .agg(max(struct(col("ts"), col("op_id"), col("op"),
            col("payload"))).as("last"))
          .select(col("key"), col("last.ts").as("ts"),
            col("last.op_id").as("op_id"), col("last.op").as("op"),
            col("last.payload").as("payload"))
        val f = fs(s, stateDir)
        // persisted monotonic sequence: strictly above EVERY existing
        // version dir, committed or partial — a partial dir's number is
        // burned, never reused, so a reader can never confuse a fresh
        // fold with a crashed write's leftovers
        val seq = versionDirs(s, stateDir)
          .headOption.map(_._1).getOrElse(0L) + 1L
        val vDir = s"v$seq"
        next.write.mode("overwrite").parquet(s"$stateDir/$vDir")
        // this module's own write-complete marker — parquet's _SUCCESS
        // is conf-dependent (marksuccessfuljobs can be off), and a fold
        // without a marker reads as crash garbage
        f.create(new org.apache.hadoop.fs.Path(s"$stateDir/$vDir/$Commit"),
          true).close()
        // pointer swap via FileContext.rename(OVERWRITE): single atomic
        // replace, so the pointer file is never absent mid-swap, and a
        // failure THROWS instead of being silently ignored (the old
        // delete-then-rename pair discarded both return values and had a
        // no-pointer crash window).
        val tmp = new org.apache.hadoop.fs.Path(s"$stateDir/.$Pointer.tmp")
        val out = f.create(tmp, true)
        try out.write(vDir.getBytes("UTF-8")) finally out.close()
        val ptr = new org.apache.hadoop.fs.Path(s"$stateDir/$Pointer")
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          ptr.toUri, s.sparkContext.hadoopConfiguration)
        fc.rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        // GC superseded versions (keep the one just published plus the
        // immediately previous COMMITTED fold for reader grace) — without
        // this a long-running feed grows one full state copy per
        // micro-batch. Partial dirs below the published sequence are
        // crash garbage and go too; ordering is the persisted sequence
        // number, so a restart can never retain stale folds over fresh.
        // The dir the pointer names is never deleted, whatever its rank
        // (belt over suspenders for a manually restored pointer).
        val (committed, partial) =
          versionDirs(s, stateDir).partition(_._2)
        val live = livePath(s, stateDir)
        (committed.drop(2) ++ partial.filter(_._1 < seq))
          .foreach { case (_, _, p) =>
            if (p.getName != vDir && !live.contains(p.toString))
              f.delete(p, true)
          }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The reader's view: live entities only (tombstones filtered) —
    * u8's survivor contract.
    */
  def currentState(spark: SparkSession, stateDir: String): DataFrame =
    livePath(spark, stateDir) match {
      case Some(p) => Sources.parquet(spark, p).filter(col("op") =!= "D")
      case None =>
        import spark.implicits._
        Seq.empty[(Long, Long, Long, String, Long)]
          .toDF("key", "ts", "op_id", "op", "payload")
    }
}
