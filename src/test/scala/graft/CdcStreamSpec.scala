package graft

import org.apache.spark.sql.functions._

/** Stream==batch parity for CdcStream (u8's streaming face), plus the
  * two safety laws the batch oracle can't state: idempotence under
  * re-delivery, and tombstone retention against late older ops.
  */
class CdcStreamSpec extends SparkSpec {

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString

  /** The u8 op feed, derived from events exactly as the batch query
    * derives it (key = user_id, op from event_type, payload = cents).
    */
  private def opFeed() =
    Tables.events(spark, sfDir).select(
      col("user_id").as("key"), col("ts"),
      col("event_id").as("op_id"),
      when(col("event_type") === "view", "I")
        .when(col("event_type") === "purchase", "D")
        .otherwise("U").as("op"),
      round(col("value") * 100).cast("long").as("payload"))

  test("two-wave stream drain equals the one-shot batch CDC apply") {
    val src = tmp("cdc_src"); val state = tmp("cdc_state")
    val ckpt = tmp("cdc_ckpt")
    val ops = opFeed().cache()
    try {
      // wave 1: even op_ids land first; wave 2: the rest — file order is
      // NOT time order, which is exactly what LWW must tolerate
      ops.filter(col("op_id") % 2 === 0).write.mode("append").parquet(src)
      streaming.CdcStream.applyOnce(spark, src, state, ckpt)
      ops.filter(col("op_id") % 2 === 1).write.mode("append").parquet(src)
      streaming.CdcStream.applyOnce(spark, src, state, ckpt)

      val got = streaming.CdcStream.currentState(spark, state)
        .select("key", "op", "payload")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1)
      val want = SparkEntry.queries("u8_cdc_apply")(spark, sfDir)
        .select(col("user_id"), col("last_op"), col("value_cents"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1)
      assert(got.toSeq === want.toSeq,
        "streamed CDC state must equal the batch u8 survivor set")
    } finally ops.unpersist()
  }

  test("a drain before any producer wrote is a no-op: missing or empty " +
      "source dir") {
    // the reader's PATH_NOT_FOUND and UNABLE_TO_INFER_SCHEMA are the
    // drain's no-op signals; an empty dir is a producer that made its
    // landing directory but has not committed a file yet
    val root = tmp("cdc_none")
    val empty = s"$root/empty"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(empty))
    for (src <- Seq(s"$root/never_written", empty)) {
      val state = s"$root/state_${src.split('/').last}"
      streaming.CdcStream.applyOnce(spark, src, state, tmp("cdc_ckpt_none"))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(state)),
        s"no-op drain of $src must not create state")
      assert(streaming.CdcStream.currentState(spark, state).isEmpty)
    }
  }

  test("re-draining the same files is a no-op (idempotent merge)") {
    val src = tmp("cdc_src2"); val state = tmp("cdc_state2")
    val ops = opFeed().limit(200).cache()
    try {
      ops.write.mode("append").parquet(src)
      streaming.CdcStream.applyOnce(spark, src, state, tmp("cdc_ckpt2a"))
      val first = streaming.CdcStream.currentState(spark, state)
        .collect().map(_.toString).sorted
      // a FRESH checkpoint replays every file — at-least-once delivery
      streaming.CdcStream.applyOnce(spark, src, state, tmp("cdc_ckpt2b"))
      val second = streaming.CdcStream.currentState(spark, state)
        .collect().map(_.toString).sorted
      assert(first.toSeq === second.toSeq,
        "full re-delivery must not change the folded state")
    } finally ops.unpersist()
  }

  test("a lost pointer file recovers to the newest committed version") {
    import spark.implicits._
    val src = tmp("cdc_src4"); val state = tmp("cdc_state4")
    Seq((1L, 10L, 1L, "I", 5L)).toDF("key", "ts", "op_id", "op", "payload")
      .write.mode("append").parquet(src)
    streaming.CdcStream.applyOnce(spark, src, state, tmp("cdc_ckpt4a"))
    val before = streaming.CdcStream.currentState(spark, state)
      .collect().map(_.toString).sorted
    assert(before.nonEmpty)
    // simulate the crash window: the _LIVE pointer vanishes
    assert(new java.io.File(state, "_LIVE").delete())
    val recovered = streaming.CdcStream.currentState(spark, state)
      .collect().map(_.toString).sorted
    assert(recovered.toSeq === before.toSeq,
      "missing pointer must fall back to the newest v-dir, not empty state")
    // and the next drain folds against the RECOVERED state, not nothing
    Seq((2L, 20L, 2L, "I", 6L)).toDF("key", "ts", "op_id", "op", "payload")
      .write.mode("append").parquet(src)
    streaming.CdcStream.applyOnce(spark, src, state, tmp("cdc_ckpt4b"))
    assert(streaming.CdcStream.currentState(spark, state).count() === 2L,
      "previously committed keys must survive a pointer-loss drain")
  }

  test("superseded state versions are garbage-collected (keep <= 2)") {
    import spark.implicits._
    val src = tmp("cdc_src5"); val state = tmp("cdc_state5")
    (1 to 4).foreach { i =>
      Seq((i.toLong, i * 10L, i.toLong, "I", i.toLong))
        .toDF("key", "ts", "op_id", "op", "payload")
        .write.mode("append").parquet(src)
      streaming.CdcStream.applyOnce(spark, src, state, tmp(s"cdc_ckpt5$i"))
    }
    val vDirs = new java.io.File(state).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
    assert(vDirs.length <= 2,
      s"expected at most 2 retained versions, found ${vDirs.length}")
    assert(streaming.CdcStream.currentState(spark, state).count() === 4L,
      "GC must not touch the live state")
    // version numbers carry a PERSISTED monotonic counter — each of the
    // four drains above ran with a FRESH checkpoint (micro-batch id 0
    // every time), so batch-id-derived names would collide/reorder;
    // the retained dirs must be the two highest sequence numbers
    val seqs = vDirs.map(_.getName.stripPrefix("v").toLong).sorted
    assert(seqs.last > seqs.head && seqs.last >= 4,
      s"version counter must grow across checkpoint resets, got $seqs")
  }

  test("pointer-loss recovery skips a partial (no _SUCCESS) version dir") {
    import spark.implicits._
    val src = tmp("cdc_src6"); val state = tmp("cdc_state6")
    Seq((1L, 10L, 1L, "I", 5L)).toDF("key", "ts", "op_id", "op", "payload")
      .write.mode("append").parquet(src)
    streaming.CdcStream.applyOnce(spark, src, state, tmp("cdc_ckpt6a"))
    val before = streaming.CdcStream.currentState(spark, state)
      .collect().map(_.toString).sorted
    // stage the crash: a half-written NEWER version (parquet data but no
    // _SUCCESS marker) plus a lost pointer — recovery must fall back to
    // the older COMMITTED fold, not read the partial dir
    Seq((999L, 1L, 1L, "I", 0L)).toDF("key", "ts", "op_id", "op", "payload")
      .write.parquet(s"$state/v99")
    assert(new java.io.File(s"$state/v99", "_SUCCESS").delete())
    assert(new java.io.File(state, "_LIVE").delete())
    val recovered = streaming.CdcStream.currentState(spark, state)
      .collect().map(_.toString).sorted
    assert(recovered.toSeq === before.toSeq,
      "recovery must skip write-incomplete version dirs")
    // the next drain buries the partial dir: its number is burned (the
    // new fold publishes ABOVE it) and GC reaps the garbage
    Seq((2L, 20L, 2L, "I", 6L)).toDF("key", "ts", "op_id", "op", "payload")
      .write.mode("append").parquet(src)
    streaming.CdcStream.applyOnce(spark, src, state, tmp("cdc_ckpt6b"))
    assert(streaming.CdcStream.currentState(spark, state)
      .filter(col("key") === 999L).count() === 0L,
      "the partial dir's rows must never surface as state")
    assert(!new java.io.File(s"$state/v99").exists(),
      "GC must reap crash-garbage partial dirs below the published fold")
    assert(new java.io.File(s"$state/v100").isDirectory,
      "the publish after a v99 partial must claim sequence 100")
  }

  test("legacy v<batch>-<nanos> state dirs stay visible to recovery and " +
      "are eventually GC'd") {
    import spark.implicits._
    val src = tmp("cdc_src7"); val state = tmp("cdc_state7")
    // stage an OLD-format committed fold (pre-monotonic-counter naming,
    // parquet _SUCCESS as its only marker) with a lost pointer
    Seq((1L, 10L, 1L, "I", 5L)).toDF("key", "ts", "op_id", "op", "payload")
      .write.parquet(s"$state/v3-171234567890")
    val legacy = streaming.CdcStream.currentState(spark, state)
      .collect().map(_.toString).sorted
    assert(legacy.nonEmpty,
      "recovery must fall back to a committed legacy-format dir")
    // the next drains allocate ABOVE the legacy batch id (seq 4, 5) and
    // the keep-2 GC eventually reclaims the legacy copy
    Seq((2L, 20L, 2L, "I", 6L)).toDF("key", "ts", "op_id", "op", "payload")
      .write.mode("append").parquet(src)
    streaming.CdcStream.applyOnce(spark, src, state, tmp("cdc_ckpt7a"))
    assert(new java.io.File(s"$state/v4").isDirectory,
      "the first new-code publish must claim the sequence above the " +
        "legacy batch id")
    assert(streaming.CdcStream.currentState(spark, state).count() === 2L,
      "the legacy fold's keys must survive the upgrade drain")
    Seq((3L, 30L, 3L, "I", 7L)).toDF("key", "ts", "op_id", "op", "payload")
      .write.mode("append").parquet(src)
    streaming.CdcStream.applyOnce(spark, src, state, tmp("cdc_ckpt7b"))
    assert(!new java.io.File(s"$state/v3-171234567890").exists(),
      "keep-2 GC must reclaim the superseded legacy dir")
  }

  test("a late OLDER op cannot resurrect a tombstoned key") {
    import spark.implicits._
    val src = tmp("cdc_src3"); val state = tmp("cdc_state3")
    // delete at ts=100 lands first; an update from ts=50 arrives later
    Seq((7L, 100L, 2L, "D", 0L)).toDF("key", "ts", "op_id", "op", "payload")
      .write.mode("append").parquet(src)
    streaming.CdcStream.applyOnce(spark, src, state, tmp("cdc_ckpt3a"))
    Seq((7L, 50L, 1L, "U", 999L)).toDF("key", "ts", "op_id", "op", "payload")
      .write.mode("append").parquet(src)
    streaming.CdcStream.applyOnce(spark, src, state, tmp("cdc_ckpt3b"))
    assert(streaming.CdcStream.currentState(spark, state)
      .filter(col("key") === 7L).count() === 0L,
      "tombstone must win over the late older update")
  }
}
