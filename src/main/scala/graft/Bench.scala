package graft
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Benchmark main: wall-times every registered query at SPARK_GRAFT_SF_DIR.
  *
  * Harness rules (VERDICT r1 findings 2-5, r3 findings 2-3, 9; r7 #1):
  *  - each query executes via a `noop`-format write, not `.count()` — count
  *    lets Catalyst prune all projected columns and elide sorts, which would
  *    benchmark p1/o1-style queries as near-empty scans;
  *  - one throwaway warmup query absorbs JVM/Spark startup (~8 s) so the
  *    first measured query isn't charged for it;
  *  - every artifact a selected query declares in `Q.needs` (the shared ALS
  *    model, the IVF index, ...) is built BEFORE timing and reported as its
  *    own entry ("_als_fit", ...), so m4/m5/m6 measure recommend/transform
  *    only — fit variance (±10 s) polluted the query table in rounds 2-3;
  *  - the whole suite runs SPARK_GRAFT_BENCH_RUNS times (default 2) and each
  *    query reports its MIN across runs — per-query noise at sf0.1 ran up to
  *    3.7x in round 3, and min-of-n is the standard variance-proofing;
  *  - a "_floor" entry times a noop write of a 1000-row in-memory plan: the
  *    fixed harness overhead (~0.2-0.9 s/query) to read real numbers net of;
  *  - "total" sums real queries only (no "_"-prefixed harness entries);
  *  - queries run in sorted name order (stable across rounds);
  *  - a query records -1 only when EVERY run failed; `errors` records any
  *    per-run failure even when another run succeeded, so flaky queries
  *    surface in the errors array while still reporting their best time —
  *    a query is healthy only if it has a time AND no error entry;
  *  - the JSON line goes to stdout AND to a file (sbt [info] noise made the
  *    stdout-only line unparseable in round 1);
  *  - CRASH-DURABLE: the artifact file is rewritten (atomic tmp+rename)
  *    after EVERY timed query with `"partial":true` until the suite
  *    completes — round 7's closing bench died of executor-heartbeat
  *    starvation 44 minutes in and left nothing parseable. A mid-suite
  *    death now loses at most the query it was inside.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt)

    def execute(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    // Warmup: a real scan+agg through the whole stack, not measured.
    try execute((s, d) => Tables.lineitem(s, d).groupBy("l_returnflag").count())
    catch { case _: Throwable => () }

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    // Optional args = query-name filter (dev loop: time one query without
    // the full suite). The driver passes no args → full suite, unchanged.
    // A misspelled name must fail loudly — matching nothing would record a
    // spotless empty artifact.
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")}")
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.isEmpty || args.contains(n) }
    val selected = names.map(_._1).toSet

    // Hypervisor steal-time stamping (VERDICT r8 #5): this host throttles
    // episodically (measured cumulative steal ~4x user time; one throttled
    // run recorded 899.6 s vs 110 s same-code), so every artifact carries
    // its own provenance — "steal_pct" is the steal share of total CPU
    // jiffies since the process started (recomputed at every flush, so
    // even a crash-partial artifact is self-labeling) and
    // "steal_pct_runs" the per-suite-pass windows. A result with
    // steal_pct near 0 was taken on a calm host; tens of percent explains
    // its own inflation without needing tools/host_calm.py forensics.
    def cpuStat(): Option[(Long, Long)] = try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      Some((f.sum, if (f.length > 7) f(7) else 0L))
    } catch { case _: Throwable => None }
    val statStart = cpuStat()
    def stealPctSince(from: Option[(Long, Long)]): Option[Double] =
      for ((t0, s0) <- from; (t1, s1) <- cpuStat() if t1 > t0)
        yield 100.0 * (s1 - s0) / (t1 - t0)
    val stealRuns = scala.collection.mutable.ArrayBuffer.empty[Double]

    val errors = scala.collection.mutable.LinkedHashSet.empty[String]
    val best = scala.collection.mutable.Map.empty[String, Double]
    def record(name: String, sec: Double): Unit =
      if (sec >= 0) {
        val prev = best.getOrElse(name, Double.MaxValue)
        best(name) = if (prev < 0) sec else math.min(prev, sec)
      } else best.getOrElseUpdate(name, -1.0)

    // ms precision, trailing zeros stripped: the driver keeps only the last
    // 2000 chars of stdout (minus sbt's ~75-char success trailer) and
    // parses the JSON line out of that tail — full-precision doubles pushed
    // the line to ~2.1k chars in round 2 and its head got truncated. As the
    // registry grows, precision steps down 3 -> 2 -> 1 dp until it fits.
    def fmt(v: Double, dp: Int) = {
      val s = BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.stripTrailingZeros.toPlainString
      if (s == "-0") "0" else s
    }
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    def stealJson: String = {
      val overall = stealPctSince(statStart)
        .map(v => "\"steal_pct\":" + fmt(v, 2) + ",").getOrElse("")
      val perRun = if (stealRuns.isEmpty) ""
        else "\"steal_pct_runs\":[" + stealRuns.map(fmt(_, 2)).mkString(",") + "],"
      overall + perRun
    }
    def buildLine(dp: Int, partial: Boolean): String = {
      val results = best.toSeq.sortBy(_._1)
      val qs = results
        .map { case (k, v) => "\"" + k + "\":" + fmt(v, dp) }.mkString("{", ",", "}")
      val total = results.collect {
        case (n, v) if v >= 0 && !n.startsWith("_") => v
      }.sum
      val errJson = errors.toSeq.map(e => "\"" + esc(e) + "\"").mkString("[", ",", "]")
      val partialField = if (partial) "\"partial\":true," else ""
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec",$partialField"runs":$runs,$stealJson"queries":$qs,"sf":"$sfDir","errors":$errJson}"""
    }
    // A name-filtered run must never clobber the full-suite artifact that
    // tools/bench_notes.py reads — partial results default to their own
    // file unless an output path was explicitly given.
    val defaultOut = if (args.isEmpty) "BENCH.json" else "BENCH_partial.json"
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    def flush(partial: Boolean): Unit = {
      val tmp = Paths.get(outFile + ".tmp")
      Files.writeString(tmp, buildLine(3, partial) + "\n")
      Files.move(tmp, Paths.get(outFile), StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    }

    // Artifacts (model fits, index builds, landed fixtures, bucket and
    // edge tables) are built once, outside the query loops, and reported
    // as their own spans, so the queries that read them time only their
    // own work. The spans come from the selected queries' `Q.needs`, so a
    // filtered 0.6 s query never pays ~9 s of unrelated pretraining, and a
    // new consumer of an artifact is timed right without editing Bench.
    val needed = SparkEntry.registry.filter(q => selected(q.name))
      .flatMap(_.needs).distinct
    for (span <- Seq("_als_fit", "_ivf_build", "_pq_build", "_qc_fit",
        "_bucket_write", "_stream_stage", "_edges_build")) {
      val builds = Artifact.all.filter(a => a.span == span && needed.contains(a))
      if (builds.nonEmpty) {
        record(span,
          try timed(builds.foreach(_.get(spark, sfDir)))
          catch { case _: Throwable => -1.0 })
        flush(partial = true)
      }
    }
    // K=64 BPE training point (VERDICT r8 #6): t16 registers K=6, which
    // hides the per-merge driver-round-trip cost the BpeTrainer.
    // MaxTrainRounds budget is about — 64 rounds on the sf dir's real
    // word counts pins sec/merge in every artifact (harness entry,
    // excluded from total like the other "_" builds).
    if (selected.contains("t16_bpe_merges")) {
      import org.apache.spark.sql.functions.{col, count, explode, lit}
      // ONE word-count definition for both trainer points — the greedy-vs-
      // batched comparison must measure the same corpus, and the shared
      // aggregation is deliberately inside NEITHER timing (materialized
      // once to scratch, both trainers read the parquet).
      val wcPath = Scratch.dir(spark, "bench_bpe_wc")
      Tables.documents(spark, sfDir)
        .select(explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(wcPath)
      def wc = spark.read.parquet(wcPath)
      record("_bpe_train64",
        try timed {
          val learned = graft.operators.BpeTrainer.train(wc, "word", "cnt",
            merges = 64, checkpointDir = Some(Scratch.dir(spark, "bench_bpe64")))
          require(learned.nonEmpty, "BPE bench point learned no merges")
        } catch { case _: Throwable => -1.0 })
      flush(partial = true)
      // The batched trainer on the SAME corpus and merge budget: the r9 #4
      // scale fix. "_bpe_batch64_rounds" records driver-synchronized
      // rounds (unit abuse is deliberate and self-describing): greedy
      // pays 64; the batched point must come in >= 5x lower, and its
      // wall-clock shows the per-round amortization directly.
      record("_bpe_batch64",
        try timed {
          val res = graft.operators.BpeTrainer.trainBatched(wc, "word", "cnt",
            merges = 64, batch = 16,
            checkpointDir = Some(Scratch.dir(spark, "bench_bpe_batch64")))
          require(res.merges.nonEmpty, "batched BPE bench learned no merges")
          record("_bpe_batch64_rounds", res.rounds.toDouble)
        } catch { case _: Throwable => -1.0 })
      flush(partial = true)
    }

    for (_ <- 1 to runs) {
      // Per-run memo reset keeps timings comparable with pre-r16 rounds:
      // each run pays every cut's write exactly once. WITHIN a run the
      // memo's reuse is real — queries sharing a frame (u1/u2's change
      // batch) no longer re-overwrite it per construction.
      Scratch.resetCuts()
      val runStat = cpuStat()
      record("_floor", timed(execute((s, _) => s.range(1000).toDF("id"))))
      for ((name, fn) <- names) {
        val sec =
          try timed(execute(fn))
          catch { case e: Throwable =>
            errors += s"$name: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}"
            -1.0
          }
        record(name, sec)
        flush(partial = true)
      }
      stealPctSince(runStat).foreach(stealRuns += _)
    }

    // Final stdout line: adaptive precision so the driver's 2000-char tail
    // (~75 chars of which is sbt's "[success]" trailer) always fits it.
    // Harness ('_'-prefixed) entries are split out BEFORE the top-N cut
    // (ADVICE r15): they always print individually, the top-N and the
    // `_other_Nq` aggregate cover QUERIES only, so `N(top) + N(_other)`
    // is exactly the registered query count and a slow harness build can
    // never displace a query from the listed table.
    def topLine = {
      val results = best.toSeq.sortBy(_._1)
      val (harness, queries) = results.partition(_._1.startsWith("_"))
      val total = queries.collect { case (_, v) if v >= 0 => v }.sum
      val errJson = errors.toSeq.map(e => "\"" + esc(e) + "\"").mkString("[", ",", "]")
      def line(n: Int, aggHarness: Boolean): String = {
        val (top, rest) = queries.sortBy(-_._2).splitAt(n)
        val restSum = rest.collect { case (_, v) if v >= 0 => v }.sum
        // harness entries normally print individually; the LAST-resort
        // variant (ADVICE r16) folds them into one _harness_Nb sum, so a
        // growing harness set can never push even the smallest line past
        // the driver's 2000-char stdout tail and clip the JSON
        val harnessJson =
          if (aggHarness)
            Seq("\"_harness_" + harness.size + "b\":" +
              fmt(harness.collect { case (_, v) if v >= 0 => v }.sum, 2))
          else harness.map { case (k, v) => "\"" + k + "\":" + fmt(v, 2) }
        val qs = (harnessJson
          ++ top.map { case (k, v) => "\"" + k + "\":" + fmt(v, 2) }
          :+ ("\"_other_" + rest.size + "q\":" + fmt(restSum, 2)))
          .mkString("{", ",", "}")
        s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","runs":$runs,$stealJson"queries":$qs,"sf":"$sfDir","errors":$errJson}"""
      }
      (40 to 10 by -10).map(line(_, aggHarness = false))
        .find(_.length <= 1880)
        .orElse((40 to 10 by -10).map(line(_, aggHarness = true))
          .find(_.length <= 1880))
        .getOrElse {
          System.err.println("[bench] topLine exceeds the 1880-char budget " +
            "even with harness entries aggregated — the artifact FILE is " +
            "complete; the stdout tail may be clipped")
          line(10, aggHarness = true)
        }
    }
    val json = (3 to 1 by -1).map(buildLine(_, partial = false))
      .find(_.length <= 1880).getOrElse(topLine)
    println(json)
    flush(partial = false)
    Scratch.sweep(spark)
    spark.stop()
  }
}
