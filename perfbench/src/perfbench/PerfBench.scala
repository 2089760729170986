package perfbench

import graft.{Scratch, Sessions, SparkEntry, Tables}
import org.apache.spark.PerfBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Task-level counters summed over the jobs of one phase. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var inputBytes, inputRows, shuffleRead, shuffleWrite, spill, written = 0L
}

/** Counts jobs, stages and tasks per phase. A job belongs to the phase that
  * was open when it was submitted; its stages and tasks follow the job.
  * The phase is read when the event is delivered, which equals the phase at
  * submission because the benchmark drains the bus before every phase change.
  */
final class PhaseListener extends SparkListener {
  @volatile var phase = "idle"
  private val stagePhase = mutable.Map.empty[Int, String]
  private val byPhase = mutable.Map.empty[String, Counters]

  def counters(p: String): Counters = synchronized(byPhase.getOrElseUpdate(p, new Counters))
  def all: Seq[Counters] = synchronized(byPhase.values.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = phase
    counters(p).jobs += 1
    e.stageIds.foreach(stagePhase(_) = p)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters(stagePhase.getOrElse(e.stageInfo.stageId, phase)).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stagePhase.getOrElse(e.stageId, phase))
    c.tasks += 1
    if (!e.taskInfo.successful) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.written += m.outputMetrics.bytesWritten
    }
  }
}

/** Catalyst phase times of every query execution that finishes while the
  * execute phase is open: the noop write's own QueryExecution.
  */
final class PlanListener(phases: PhaseListener) extends QueryExecutionListener {
  var analysisMs, optimizationMs, planningMs = 0L
  private def add(qe: QueryExecution): Unit = synchronized {
    if (phases.phase == "execute") {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      analysisMs += ms("analysis")
      optimizationMs += ms("optimization")
      planningMs += ms("planning")
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  def totalMs: Long = synchronized(analysisMs + optimizationMs + planningMs)
}

/** One timed query of one pass; times in seconds. `analysis` is the
  * constructed frame's own Catalyst analysis, which runs inside `Q.run`
  * (traced passes only; 0 otherwise).
  */
final case class QRec(wall: Double, construct: Double, write: Double,
    constructJobs: Long, analysis: Double)

final case class PassRec(traced: Boolean, wall: Double, steal: Double,
    artifacts: Seq[(String, Double)], recs: Seq[(String, QRec)],
    errors: Seq[(String, String)], layers: Seq[(String, Double)])

/** The benchmark's JVM side: one client thread, queries back to back.
  *
  * Set-up (load the registry, start the session) ends with the line
  * `PERFBENCH READY`. Then one untimed check pass writes each query's
  * output as parquet (it also warms the JVM), timed passes run for the
  * given seconds, and result.json is written to --out.
  *
  * Each timed pass resets every artifact memo, builds the workload's
  * artifacts as their own spans, and runs each query as construct
  * (`Q.run`) followed by a noop write (plan + execute). With --trace 1 the
  * passes alternate traced and untraced; the traced ones carry the
  * per-layer counters.
  */
object PerfBench {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code = try run(opts) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        2
    }
    System.out.flush()
    System.exit(code)
  }

  private def run(opts: Map[String, String]): Int = {
    val data = opts("data")
    val cores = opts.getOrElse("cores", "4")
    val names = opts.getOrElse("queries", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val tMain = System.nanoTime()
    val registry = SparkEntry.queries ++ Controls.all
    val tRegistry = System.nanoTime()
    val artifacts = opts.getOrElse("artifacts", "").split(",").filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(registry.contains) ++
      artifacts.filterNot(Builds.toMap.contains)
    if (names.isEmpty || unknown.nonEmpty) {
      System.err.println(
        if (names.isEmpty) "perfbench: the workload names no query"
        else s"perfbench: unknown query or artifact name(s): ${unknown.mkString(", ")}")
      return 3
    }
    val spark = Sessions.local(cores)
    val tSession = System.nanoTime()
    System.err.println(f"perfbench setup: jvm_to_main ${
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0 -
      (tSession - tMain) / 1e9}%.3f s, registry ${(tRegistry - tMain) / 1e9}%.3f s, " +
      f"session ${(tSession - tRegistry) / 1e9}%.3f s")
    println("PERFBENCH READY")
    System.out.flush()

    val out = opts("out")
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val plant = opts.get("plant-wrong")
    val qs = names.map(n => n -> registry(n))

    val refBefore = HostRef.time()
    val tCheck = System.nanoTime()
    val check = checkPass(spark, data, out, qs, plant)
    val checkS = secs(tCheck)
    Json.write(Paths.get(out, "oracle_sql.json"), Json.obj(
      SparkEntry.oracleSql.toSeq.filter(o => names.contains(o._1)).sortBy(_._1)
        .map { case (k, v) => k -> Json.str(v) }: _*))

    val passes = mutable.ArrayBuffer.empty[PassRec]
    // traced runs: traced, untraced, traced. The first gives the layers; the
    // last two, both past the cold artifact builds, give the overhead
    val minPasses = math.max(if (trace) 3 else 1, opts.getOrElse("min-passes", "1").toInt)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def fits = passes.isEmpty ||
      elapsed + passes.map(_.wall).sorted.apply(passes.size / 2) <= seconds
    // past the first pass (traced: the first two), a pass starts only if it
    // can end within --budget seconds of JVM uptime, so a slow host still
    // ends before the run's deadline
    val budget = opts.get("budget").map(_.toDouble).getOrElse(Double.MaxValue)
    def affordable = passes.size < (if (trace) 2 else 1) ||
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0 +
        passes.last.wall <= budget
    while ((passes.size < minPasses || fits) && affordable) {
      val traced = trace && passes.size % 2 == 0
      passes += timedPass(spark, data, qs, artifacts, cores.toInt, traced)
    }
    val refAfter = HostRef.time()
    Json.write(Paths.get(out, "result.json"), Json.obj(
      "queries" -> Json.arr(names.map(Json.str)),
      "cores" -> cores,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / Layers.MB).toString,
      "vmhwm_mb" -> vmHwmMb.toString,
      "host_ref_s" -> Json.arr(Seq(refBefore, refAfter).map(_.toString)),
      "check_pass_s" -> checkS.toString,
      "check_failed" -> Json.obj(check.map { case (k, v) => k -> Json.str(v) }: _*),
      "passes" -> Json.arr(passes.toSeq.map(passJson))))
    Scratch.sweep(spark)
    spark.stop()
    0
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def secs(from: Long): Double = (System.nanoTime() - from) / 1e9

  private def resetMemos(): Unit = {
    graft.queries.MlQueries.clearCaches()
    graft.queries.PipelineQueries.clearCaches()
    graft.queries.IoQueries.clearCaches()
    graft.queries.GraphTemporalQueries.clearCaches()
    graft.queries.StreamingQueries.clearCaches()
    Scratch.resetCuts()
  }

  /** The artifact builds a user pays on every run, through their public
    * entry points; each is timed as its own span. Keyed by the name that
    * workloads.json and the `artifact.<name>_s` metric use.
    */
  val Builds: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "als_fit" -> graft.queries.MlQueries.pretrainAls _,
    "ivf_build" -> graft.queries.PipelineQueries.pretrainIvf _,
    "pq_build" -> graft.queries.PipelineQueries.pretrainPq _,
    "qc_fit" -> graft.queries.MlQueries.pretrainQuality _,
    // the single-copy landing that st1 drains
    "stream_stage" -> ((s: SparkSession, d: String) =>
      graft.queries.StreamingQueries.pretrainStage(s, d, single = true, doubled = false)),
    "edges_build" -> graft.queries.GraphTemporalQueries.pretrainEdges _,
    "bucket_write" -> graft.queries.IoQueries.prepareBuckets _)

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(300)

  /** Untimed pass that writes every query's output for the oracle compare.
    * It builds only the artifacts its queries read, through their memos.
    * Returns the queries that threw, with their messages.
    */
  private def checkPass(spark: SparkSession, d: String, out: String,
      qs: Seq[(String, (SparkSession, String) => DataFrame)],
      plant: Option[String]): Seq[(String, String)] = {
    resetMemos()
    qs.flatMap { case (name, fn) =>
      val t = System.nanoTime()
      try {
        val df = fn(spark, d)
        val written = if (plant.contains(name)) df.limit(0) else df
        written.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        None
      } catch { case e: Throwable => Some(name -> message(e)) }
      finally System.err.println(f"perfbench check: $name ${secs(t)}%.3f s")
    }
  }

  private def timedPass(spark: SparkSession, d: String,
      qs: Seq[(String, (SparkSession, String) => DataFrame)],
      artifacts: Seq[String], cores: Int, traced: Boolean): PassRec = {
    val sc = spark.sparkContext
    val tracing = if (traced) {
      val ph = new PhaseListener
      Some((ph, new PlanListener(ph)))
    } else None
    def enter(p: String): Unit = tracing.foreach { case (ph, _) =>
      PerfBenchBus.drain(sc); ph.phase = p
    }
    tracing.foreach { case (ph, pl) =>
      sc.addSparkListener(ph)
      spark.listenerManager.register(pl)
    }
    val stat0 = Steal.read()
    val t0 = System.nanoTime()
    resetMemos()
    val arts = artifacts.map { a =>
      enter("artifact")
      val t = System.nanoTime()
      Builds.toMap.apply(a)(spark, d)
      a -> secs(t)
    }
    val recs = mutable.ArrayBuffer.empty[(String, QRec)]
    val errors = mutable.ArrayBuffer.empty[(String, String)]
    for ((name, fn) <- qs) {
      enter("construct")
      val jobs0 = tracing.map(_._1.counters("construct").jobs).getOrElse(0L)
      val a = System.nanoTime()
      try {
        val df = fn(spark, d)
        val construct = secs(a)
        val analysis = if (tracing.isEmpty) 0.0
          else df.queryExecution.tracker.phases.get("analysis").map(_.durationMs / 1000.0).getOrElse(0.0)
        enter("execute")
        val b = System.nanoTime()
        noop(df)
        val write = secs(b)
        enter("idle")
        recs += name -> QRec(construct + write, construct, write,
          tracing.map(_._1.counters("construct").jobs - jobs0).getOrElse(0L), analysis)
      } catch { case e: Throwable => enter("idle"); errors += name -> message(e) }
    }
    val wall = secs(t0)
    val steal = Steal.pctSince(stat0)
    val layers = tracing.map { case (ph, pl) =>
      PerfBenchBus.drain(sc)
      sc.removeSparkListener(ph)
      spark.listenerManager.unregister(pl)
      Layers.of(ph, pl, recs.map(_._2).toSeq, arts, wall, cores)
    }.getOrElse(Nil)
    PassRec(tracing.nonEmpty, wall, steal, arts, recs.toSeq, errors.toSeq, layers)
  }

  private def passJson(p: PassRec): String = Json.obj(
    "traced" -> p.traced.toString,
    "wall_s" -> p.wall.toString,
    "steal_pct" -> p.steal.toString,
    "artifacts" -> Json.obj(p.artifacts.map { case (k, v) => k -> v.toString }: _*),
    "errors" -> Json.obj(p.errors.map { case (k, v) => k -> Json.str(v) }: _*),
    "queries" -> Json.obj(p.recs.map { case (k, r) => k -> Json.obj(
      "wall_s" -> r.wall.toString, "construct_s" -> r.construct.toString,
      "write_s" -> r.write.toString,
      "construct_jobs" -> r.constructJobs.toString) }: _*),
    "layers" -> Json.obj(p.layers.map { case (k, v) => k -> v.toString }: _*))

  private def vmHwmMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong / 1024.0
  }
}

/** Per-layer metrics of one traced pass, named as BENCHMARK.json declares. */
object Layers {
  val MB = 1024.0 * 1024.0

  def of(ph: PhaseListener, pl: PlanListener, recs: Seq[QRec],
      arts: Seq[(String, Double)], wall: Double, cores: Int): Seq[(String, Double)] = {
    val c = ph.counters("construct")
    val x = ph.counters("execute")
    // the frame's analysis runs inside Q.run: booked under plan, not construct
    val frameAnalysisS = recs.map(_.analysis).sum
    val writePlanS = pl.totalMs / 1000.0
    val writeS = recs.map(_.write).sum
    val allRunS = ph.all.map(_.runMs).sum / 1000.0
    Seq(
      "construct.wall_s" -> (recs.map(_.construct).sum - frameAnalysisS),
      "construct.jobs" -> c.jobs.toDouble,
      "construct.tasks" -> c.tasks.toDouble,
      "construct.task_cpu_s" -> c.cpuNs / 1e9,
      "construct.write_mb" -> c.written / MB,
      "plan.wall_s" -> (frameAnalysisS + writePlanS),
      "plan.analysis_s" -> (frameAnalysisS + pl.analysisMs / 1000.0),
      "plan.optimization_s" -> pl.optimizationMs / 1000.0,
      "plan.planning_s" -> pl.planningMs / 1000.0,
      "execute.wall_s" -> (writeS - writePlanS),
      "execute.jobs" -> x.jobs.toDouble,
      "execute.stages" -> x.stages.toDouble,
      "execute.tasks" -> x.tasks.toDouble,
      "execute.input_mb" -> x.inputBytes / MB,
      "execute.input_rows" -> x.inputRows.toDouble,
      "execute.shuffle_read_mb" -> x.shuffleRead / MB,
      "execute.shuffle_write_mb" -> x.shuffleWrite / MB,
      "execute.spill_mb" -> x.spill / MB,
      "execute.task_run_s" -> x.runMs / 1000.0,
      "execute.task_cpu_s" -> x.cpuNs / 1e9,
      "execute.gc_s" -> x.gcMs / 1000.0,
      "execute.slot_busy" -> allRunS / (wall * cores),
      "artifact.write_mb" -> ph.counters("artifact").written / MB,
      "tasks.failed" -> ph.all.map(_.failedTasks).sum.toDouble
    ) ++ PerfBench.Builds.map(_._1).map(a => s"artifact.${a}_s" -> arts.collect { case (`a`, s) => s }.sum)
  }
}

/** Planted attribution controls, never part of a real workload. */
object Controls {
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // one eager collect while the frame is built: construct.jobs >= 1
    "_ctl_eager_collect" -> ((s: SparkSession, d: String) => {
      val n = Tables.nation(s, d).collect().length
      Tables.region(s, d).limit(n)
    }),
    // a pure scan: construct.jobs == 0. The schema is given because parquet
    // schema inference is itself a job, which every Tables read pays while
    // its frame is built.
    "_ctl_pure_scan" -> ((s: SparkSession, d: String) =>
      s.read.schema("l_orderkey BIGINT, l_quantity DOUBLE").parquet(s"$d/lineitem.parquet")))
}

/** Fixed CPU-and-memory kernel: provenance for host speed, never a scale
  * factor. 2^24 xorshift steps, each a random read-modify-write in 32 MiB.
  */
object HostRef {
  def time(): Double = {
    val a = new Array[Long](1 << 22)
    val t = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 24)) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      a((x & ((1 << 22) - 1)).toInt) += x
      i += 1
    }
    val s = (System.nanoTime() - t) / 1e9
    if (a.sum == 42L) System.err.println("")
    s
  }
}

/** Steal share of all CPU time since a /proc/stat snapshot, in percent. */
object Steal {
  def read(): Option[(Long, Long)] = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    Some((f.sum, if (f.length > 7) f(7) else 0L))
  } catch { case _: Throwable => None }

  def pctSince(from: Option[(Long, Long)]): Double = (for {
    (t0, s0) <- from; (t1, s1) <- read() if t1 > t0
  } yield 100.0 * (s1 - s0) / (t1 - t0)).getOrElse(0.0)
}

/** Minimal JSON writing: values are passed pre-rendered. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
  def write(p: java.nio.file.Path, s: String): Unit = { Files.writeString(p, s + "\n"); () }
}
