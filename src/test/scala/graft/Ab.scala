package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.util.control.NonFatal
import scala.util.hashing.MurmurHash3

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.GraphTemporalQueries
import graft.sources.Sources

/** One A/B harness for every timing experiment: a grid of inputs (the sf
  * dir and its fact replicas) × named variants per case, measured one way.
  *
  *  - A timed run builds each part of a variant and writes it to the
  *    `noop` sink (Bench's protocol). A cell keeps the MIN over runs, and
  *    each run times every variant of the case in turn, starting one
  *    variant later than the run before, so neither host drift nor the
  *    position in a run favours a variant. A case's first run on the
  *    first input also pays its first code generation, so one run per
  *    cell biases the first input's cells upward; use two or more runs.
  *  - A variant's `setup` runs untimed before each of its runs: a conf,
  *    a memo reset, the artifacts a registered query declares.
  *  - In every run, right after each part's timed write and outside the
  *    timed region, the part's rows are hashed as a sorted multiset (a
  *    toggle may repartition the output). A variant whose hash moves from
  *    its first run, or that disagrees with the case's first variant on
  *    one input, fails that cell, naming the input and both variants.
  *  - A failing cell prints an `ERROR` row and the other cells still run;
  *    the experiment then throws, naming every failed cell.
  *  - Shuffle-write bytes come from [[SparkSpec.ran]] over the timed
  *    region only.
  *  - One table: MIN seconds per case, input and variant, its ratio to
  *    the case's first variant on that input and to the same variant on
  *    the first input, shuffle MB and result rows.
  */
object Ab {
  type Build = (SparkSession, String) => DataFrame

  /** `parts` are built and written in order as one timed pass: one part
    * for an ordinary variant, a sorted list of registered queries for a
    * suite pass (the cut memo then carries across the pass, as in Bench).
    */
  final case class Variant(name: String, parts: Seq[(String, Build)],
      setup: (SparkSession, String) => Unit = (_, _) => ())
  final case class Case(name: String, variants: Seq[Variant])

  def variant(name: String)(b: Build): Variant = Variant(name, Seq("" -> b))

  /** Registered queries as one variant, timed as one sorted pass. Setup
    * sets `Scratch.CutKey`, resets the cut memo (each run pays every cut
    * write, Bench's per-run rule) and builds the artifacts the queries
    * declare in `Q.needs` (Bench times those as their own spans).
    */
  def queries(name: String, names: Seq[String],
      materialize: Boolean = true): Variant = {
    val qs = names.sorted.map(n => SparkEntry.registry.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"unknown query $n")))
    Variant(name, qs.map(q => q.name -> q.run), (s, d) => {
      s.conf.set(Scratch.CutKey, materialize.toString)
      Scratch.resetCuts()
      qs.flatMap(_.needs).distinct.foreach(_.get(s, d))
    })
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def digest(df: DataFrame): (Long, Int) = {
    val rows = df.collect().map(_.toString).sorted
    (rows.length.toLong, MurmurHash3.arrayHash(rows))
  }

  /** Times every case on every input, prints the table and returns its
    * lines. Inputs are (label, dir); the first is the ratio base.
    */
  def run(spark: SparkSession, runs: Int, inputs: Seq[(String, String)],
      cases: Seq[Case]): Seq[String] = {
    // warm-up through the whole stack, untimed (Bench's rule)
    noop(Tables.lineitem(spark, inputs.head._2).groupBy("l_returnflag").count())
    val lines = Seq.newBuilder[String]
    def emit(l: String): Unit = { println(l); lines += l }
    emit(f"AB ${"case"}%-40s ${"input"}%-8s ${"variant"}%-10s ${"sec"}%8s " +
      f"${"/var0"}%6s ${"/in0"}%6s ${"shuffleMB"}%9s ${"rows"}%8s")
    val firstInput = mutable.Map.empty[(String, String), Double]
    val failed = Seq.newBuilder[String]
    def measure(c: Case, in: String, dir: String): Unit = {
      // per run, per variant, per part: ((seconds, shuffle bytes), (rows, hash))
      val n = c.variants.size
      val timed = (0 until runs).map { k =>
        val done = (0 until n).map(j => (j + k) % n).map { i =>
          val v = c.variants(i)
          v.setup(spark, dir)
          i -> v.parts.map { case (_, b) =>
            val ((sec, df), ran) = SparkSpec.ran(spark) {
              val t0 = System.nanoTime()
              val df = b(spark, dir)
              noop(df)
              ((System.nanoTime() - t0) / 1e9, df)
            }
            // before the next part: a live build may overwrite this one's files
            ((sec, ran.shuffleWriteBytes), digest(df))
          }
        }.toMap
        c.variants.indices.map(done)
      }
      // per variant, per run: (rows, hash) per part
      val digests = c.variants.indices.map(i => timed.map(_(i).map(_._2)))
      val v0 = c.variants.head.name
      for ((v, ds) <- c.variants.zip(digests); (d, r) <- ds.zipWithIndex.tail
           if d != ds.head)
        throw new IllegalStateException(s"variant ${v.name} run ${r + 1} $d " +
          s"differs from its run 1 ${ds.head} (rows, hash) per part")
      for ((v, ds) <- c.variants.zip(digests).tail if ds.head != digests.head.head)
        throw new IllegalStateException(s"variant ${v.name} ${ds.head} " +
          s"disagrees with $v0 ${digests.head.head} (rows, hash) per part")
      val cells = c.variants.zipWithIndex.flatMap { case (v, i) =>
        val perRun = timed.map(_(i).map(_._1))
        val whole = perRun.map(ps => (ps.map(_._1).sum, ps.map(_._2).sum))
        val rows = digests(i).head.map(_._1)
        val parts =
          if (v.parts.size == 1) Nil
          else v.parts.indices.map(p => (s"${c.name}/${v.parts(p)._1}",
            perRun.map(_(p)).minBy(_._1), rows(p)))
        val label = if (v.parts.size == 1) c.name else s"${c.name}/pass"
        (parts :+ ((label, whole.minBy(_._1), rows.sum))).map(v.name -> _)
      }
      val byVariant0 = cells.collect { case (`v0`, (l, (s, _), _)) => l -> s }.toMap
      for ((v, (label, (sec, b), rows)) <- cells) {
        if (in == inputs.head._1) firstInput((label, v)) = sec
        emit(f"AB $label%-40s $in%-8s $v%-10s $sec%8.2f " +
          f"${sec / byVariant0(label)}%6.2f " +
          f"${sec / firstInput.getOrElse((label, v), Double.NaN)}%6.2f " +
          f"${b / 1e6}%9.1f $rows%8d")
      }
    }
    for (c <- cases; (in, dir) <- inputs) {
      try measure(c, in, dir) catch { case NonFatal(e) =>
        val err = String.valueOf(e).linesIterator.next()
        emit(f"AB ${c.name}%-40s $in%-8s ERROR $err")
        failed += s"${c.name} on $in: $err"
      }
    }
    val errors = failed.result()
    if (errors.nonEmpty) throw new IllegalStateException(
      s"${errors.size} cell(s) failed:\n${errors.mkString("\n")}")
    lines.result()
  }

  /** The x`r` fact replica of `base` in `out`, written once and reused
    * while its `_OK` marker names the same base and factor; otherwise
    * `out` is deleted and written again.
    *
    * Each of the five fact tables is replicated `r` times with its key
    * offset per replica: orderkeys in orders AND lineitem (join integrity
    * holds), doc, event and vector ids. Replica `i` rotates each
    * document's words by `i`, so replicas share vocabulary and lengths
    * but almost no k-shingles (otherwise every shingle's df multiplies by
    * `r` and d13's rare-anchor band empties), and shifts event `ts` by
    * `i` spans of the base time range. Part, supplier, customer, user and
    * value domains are not offset, so per-key row counts grow r-fold, the
    * direction real corpora grow. The five dimension tables are copied.
    */
  def replica(spark: SparkSession, base: String, out: String, r: Int): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (src, dst) = (new Path(base), new Path(out))
    val fs = dst.getFileSystem(conf)
    val ok = new Path(dst, "_OK")
    val stamp = s"$base x$r"
    def marked = fs.exists(ok) && {
      val in = fs.open(ok)
      try new String(in.readAllBytes(), UTF_8) == stamp finally in.close()
    }
    require(r >= 2, s"a replica needs a factor of at least 2, got $r")
    if (marked) return out
    // start empty: a dim directory copied onto an old one nests inside it,
    // and Spark would go on reading the old base's files at the top level
    fs.delete(dst, true)
    val rep = col("rep")
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1
    def shift(key: String, by: Long) = key -> (col(key) + rep * by)
    val (docs, ev, ord, emb) = (Tables.documents(spark, base),
      Tables.events(spark, base), Tables.orders(spark, base),
      Tables.embeddings(spark, base))
    val words = split(col("text"), " ")
    val turn = pmod(rep, size(words)).cast("int")
    val span = { // ts is nanos since epoch (Tables.events)
      val t = ev.agg(min(col("ts")), max(col("ts"))).head()
      t.getLong(1) - t.getLong(0) + 3600L * 1000000000L
    }
    val orderStride = stride(ord, "o_orderkey")
    val facts = Seq(
      "documents" -> (docs, Seq(shift("doc_id", stride(docs, "doc_id")),
        "text" -> when(rep === 0, col("text")).otherwise(concat_ws(" ",
          concat(slice(words, turn + 1, size(words)), slice(words, lit(1), turn)))))),
      "events" -> (ev, Seq(shift("event_id", stride(ev, "event_id")),
        shift("ts", span))),
      "orders" -> (ord, Seq(shift("o_orderkey", orderStride))),
      "lineitem" -> (Tables.lineitem(spark, base),
        Seq(shift("l_orderkey", orderStride))),
      "embeddings" -> (emb, Seq(shift("vec_id", stride(emb, "vec_id")))))
    for ((t, (df, keys)) <- facts)
      keys.foldLeft(df.withColumn("rep", explode(sequence(lit(0L), lit(r - 1L))))) {
        case (d, (k, e)) => d.withColumn(k, e)
      }.drop("rep").write.mode("overwrite").parquet(s"$out/$t.parquet")
    for (t <- Seq("region", "nation", "supplier", "customer", "part"))
      FileUtil.copy(src.getFileSystem(conf), new Path(src, s"$t.parquet"),
        fs, new Path(dst, s"$t.parquet"), false, true, conf)
    val o = fs.create(ok, true)
    try o.write(stamp.getBytes(UTF_8)) finally o.close()
    out
  }
}

/** The experiments, as data for [[Ab]]:
  * `sbt "Test/runMain graft.AbMain <experiment> [runs] [scales] [names]"`.
  *
  *  - `runs` (default 2): timed runs per cell; each cell keeps the MIN.
  *  - `scales` (comma list, default per experiment): 1 is the sf dir
  *    itself, `R` its x`R` fact replica in `/tmp/graft_replica_x<R>`
  *    ([[Ab.replica]]).
  *  - `names`: the crossover's cut set (`r14`, `r15`, `all`, or a comma
  *    list of queries) or the cut-share pass (a comma list).
  *
  * `SPARK_GRAFT_SF_DIR` and `SPARK_GRAFT_CPUS` are read with
  * [[graft.Bench]]'s defaults.
  */
object AbMain {
  import Ab.{Case, Variant}

  /** g9_hits with a checkpoint after every second half-step (h1 and the
    * final a2): the fused form of the registered one (a checkpoint after
    * every half-step). Skipping one level is the bound: a1's subtree is
    * inlined twice in h1's plan (rows + broadcast max).
    */
  private val hitsEvery2: Ab.Build = (s, d) => {
    val scratch = Scratch.dir(s, "g9every2")
    val ew = Sources.checkpoint(Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .agg(count(lit(1)).as("w")), s"$scratch/ew")
    def scaled(df: DataFrame, k: String, v: String, step: Int, mat: Boolean) = {
      val out = df.crossJoin(broadcast(df.agg(max(col(v)).as("m"))))
        .select(col(k), expr(s"$v * 1000 div m").as(v))
      if (mat) Sources.checkpoint(out, s"$scratch/$v$step") else out
    }
    def authStep(hub: DataFrame, step: Int, mat: Boolean) = scaled(ew.join(hub, Seq("c"))
      .groupBy(col("s")).agg(sum(col("h") * col("w")).as("a")), "s", "a", step, mat)
    def hubStep(auth: DataFrame, step: Int) = scaled(ew.join(auth, Seq("s"))
      .groupBy(col("c")).agg(sum(col("a") * col("w")).as("h")), "c", "h", step, mat = true)
    val hub0 = ew.select(col("c")).distinct().withColumn("h", lit(1000L))
    authStep(hubStep(authStep(hub0, 1, mat = false), 1), 2, mat = true)
      .join(ew.groupBy(col("s")).agg(count(lit(1)).as("n_customers")), Seq("s"))
      .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))),
        col("s") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("a").as("auth_x1000"),
        col("n_customers"))
      .orderBy(desc("auth_x1000"), col("s_suppkey")).limit(100)
  }

  /** g8_kcore's 8 peel rounds (k = 2) over the registered edge artifact
    * with a checkpoint every 2nd round: the fused form of the registered
    * one (a checkpoint every round).
    */
  private val kcoreEvery2: Ab.Build = (s, d) => {
    val scratch = Scratch.dir(s, "g8every2")
    val e0 = GraphTemporalQueries.coocEdges(s, d)
    def among(act: DataFrame) = e0
      .join(act.select(col("n").as("u")), Seq("u"), "left_semi")
      .join(act.select(col("n").as("v")), Seq("v"), "left_semi")
    def degrees(ee: DataFrame) = ee.select(col("u").as("n"))
      .union(ee.select(col("v"))).groupBy(col("n")).agg(count(lit(1)).as("deg"))
    var act = Sources.checkpoint(
      e0.select(col("u").as("n")).union(e0.select(col("v"))).distinct(),
      s"$scratch/a0")
    var prev = act
    for (r <- 1 to 8) {
      prev = act
      val next = degrees(among(act)).filter(col("deg") >= 2).select(col("n"))
      act = if (r % 2 == 0) Sources.checkpoint(next, s"$scratch/a$r") else next
    }
    act.join(degrees(among(act)), Seq("n"), "left")
      .crossJoin(broadcast(prev.agg(count(lit(1)).as("np"))))
      .crossJoin(broadcast(act.agg(count(lit(1)).as("nc"))))
      .select(col("n").as("p_partkey"), coalesce(col("deg"), lit(0L)).as("deg_core"),
        (col("np") === col("nc")).cast("int").as("converged"))
      .orderBy("p_partkey")
  }

  private def matLive(names: Seq[String]): Seq[Variant] =
    Seq(Ab.queries("mat", names), Ab.queries("live", names, materialize = false))

  /** name -> (default scales, names argument => cases) */
  val experiments: Map[String, (String, Option[String] => Seq[Case])] = Map(
    // bounded-round graph family vs the x10/x40 replicas (BENCH_NOTES
    // "Round 17"); the shared edge artifact is its own case
    "scale" -> ("1,10", _ =>
      // timed alone, as Bench's span: the frame after the build is empty
      Case("_edges_build", Seq(Variant("build", Seq("" -> ((s, d) => {
        GraphTemporalQueries.pretrainEdges(s, d); s.emptyDataFrame
      })), (_, _) => GraphTemporalQueries.clearCaches()))) +:
        Seq("g2_pagerank", "g8_kcore", "g9_hits", "g16_harmonic_centrality")
          .map(n => Case(n, Seq(Ab.queries("registered", Seq(n)))))),
    // each cut query alone, materialized vs live ("Round 15", "Round 16")
    "crossover" -> ("1,10", set => (set.getOrElse("r14") match {
      case "r14" => Census.censusCuts
      case "r15" => Census.round15Cuts
      case "all" => Census.allCuts
      case ns => ns.split(',').toSeq
    }).map(n => Case(n, matLive(Seq(n))))),
    // the sharers of one cut as one suite pass ("Round 18: shared-cut")
    "cutshare" -> ("1", names => Seq(Case("cutshare", matLive(names.fold(Seq(
      "c11_quality_survivor", "c17_survivor_quality", "d3_lsh_pairs",
      "d6_dedup_apply", "d7_dup_components"))(_.split(',').toSeq))))),
    // checkpoint cadence ("Round 18: checkpoint-cadence A/B"): the
    // registered query first, so the result check ties the copy to it
    "hits" -> ("1,10", _ => Seq(Case("g9_hits_cadence", Seq(
      Ab.queries("registered", Seq("g9_hits")), Ab.variant("every2")(hitsEvery2))))),
    "kcore" -> ("1,10", _ => Seq(Case("g8_kcore_cadence", Seq(
      Ab.queries("registered", Seq("g8_kcore")),
      Variant("every2", Seq("" -> kcoreEvery2), GraphTemporalQueries.pretrainEdges))))),
    // d16's anchor self-join keyed on span text vs xxhash64 ("Round 14")
    "anchors" -> ("1", _ => Seq(Case("d16_anchors", Seq(false, true).map(h =>
      Ab.variant(if (h) "hash" else "text")((s, d) =>
        graft.operators.ExactSubstr.maximalSpans(graft.operators.ExactSubstr
          .anchors(Tables.tokenizedDocs(s, d), col("text"), 8),
          k = 8, minLen = 12, hashedAnchors = h)))))))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && experiments.contains(args(0)), "usage: AbMain " +
      s"<${experiments.keys.toSeq.sorted.mkString("|")}> [runs] [scales] [names]")
    val (defaultScales, cases) = experiments(args(0))
    val runs = args.lift(1).fold(2)(_.toInt)
    val scales = args.lift(2).getOrElse(defaultScales).split(',').map(_.trim.toInt)
    val sfDir = Bench.Env.sfDir
    val spark = Sessions.local(Bench.Env.cpus)
    try {
      val inputs = scales.toSeq.map {
        case 1 => new Path(sfDir).getName -> sfDir
        case r => s"x$r" -> Ab.replica(spark, sfDir, s"/tmp/graft_replica_x$r", r)
      }
      Ab.run(spark, runs, inputs, cases(args.lift(3)))
    } finally { Scratch.sweep(spark); spark.stop() }
    ()
  }
}
