package graft

import graft.sources.Sources
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scratch-directory resolution for queries that materialize intermediates
  * (IO round-trips, the d5 shingle table, d7 checkpoints, saved ML models).
  *
  * The location is a session conf — `spark.graft.scratchDir` — so the query
  * modules carry no absolute paths and a deployment points it at job-local
  * or HDFS/object-store scratch space. The DEFAULT is disk-backed
  * (`java.io.tmpdir`): portable and bounded only by real disk, so a stock
  * container (where /dev/shm is 64 MB) never hits tmpfs ENOSPC. Hosts with
  * a degrading virtual disk (this bench VM syncs small writes at
  * single-digit MB/s, see BENCH_NOTES.md) opt INTO tmpfs: Sessions.local
  * points the conf at /dev/shm only when that mount demonstrably has
  * headroom. On a cluster, set the conf to executor-local NVMe or the
  * job's object-store staging prefix.
  *
  * Two ways to cut a frame's lineage at scratch parquet, one per job: a
  * per-build checkpoint (an iterative round, a frame one build scans
  * several times) is `Sources.checkpoint`, written on every build; a
  * frame shared once per run across builds and queries is [[cut]],
  * written once per cut name.
  *
  * Lifecycle: scratch content is per-run ephemera by contract. The harness
  * mains (Bench, Verify) call [[sweep]] on exit so repeated driver runs
  * can't accumulate — RAM-backed tmpfs especially must not retain stale
  * per-run parquet between invocations.
  */
object Scratch {
  val ConfKey = "spark.graft.scratchDir"

  /** Scratch roots are PER-PROCESS (`graft_qtmp_<pid>`): two harness JVMs
    * running concurrently (a dev-loop filtered Verify beside a full one)
    * must never share scratch, because each sweeps its root on exit — a
    * concurrent sweep deleted the full run's cached edge table mid-query
    * (round 10: t20's PATH_NOT_FOUND on the sf0.1 drill leg). [[sweep]]
    * also reaps SIBLING roots whose owning pid is gone, so killed JVMs
    * can't accumulate stale tmpfs parquet across invocations.
    */
  private val pidSuffix: String = {
    val pid = ProcessHandle.current().pid()
    s"graft_qtmp_$pid"
  }
  val Default: String =
    sys.props.getOrElse("java.io.tmpdir", "/tmp").stripSuffix("/") + "/" + pidSuffix

  /** tmpfs scratch root, offered only when the mount has real headroom
    * (>= 4 GiB usable) — the opt-in path Sessions.local wires up.
    */
  val TmpfsCandidate = s"/dev/shm/$pidSuffix"
  def tmpfsUsable: Boolean = {
    val shm = new java.io.File("/dev/shm")
    shm.isDirectory && shm.canWrite && shm.getUsableSpace >= 4L * 1024 * 1024 * 1024
  }

  def dir(spark: SparkSession, name: String): String =
    s"${spark.conf.get(ConfKey, Default)}/$name"

  /** Conf toggling [[cut]] between materialize (default) and live lineage. */
  val CutKey = "spark.graft.cutMaterialize"

  /** Materialization cut for a multi-consumer frame (the round-14 scan
    * census fix): write the frame ONCE to scratch parquet and hand every
    * consumer the read, so N consumers plan N scratch scans instead of N
    * re-derivations of the whole fact lineage (d13's shingle table planned
    * 24 documents scans live; e11's candidate frame 21). The scratch name
    * keeps the per-query prefix (`d13_sh`, `a26_obs`, ...) because
    * PlanSpec pins it in the consumer plan.
    *
    * `spark.graft.cutMaterialize=false` keeps the live lineage instead —
    * the differential path `graft.AbMain crossover` uses to measure the
    * materialize-vs-recompute crossover at scale (VERDICT r14 #2); results
    * are identical by construction, asserted by CutDifferentialSpec.
    *
    * Writes are memoized per (session, scratch root, cut name) through
    * [[Artifact]] (ADVICE r15): queries that SHARE a cut name (u1/u2/u10/
    * u11's change batch, u10/u11's second delta log) used to re-overwrite
    * the files on every construction, so a DataFrame handle from an
    * EARLIER construction held a stale file listing and executing it after
    * the rewrite threw FileNotFoundException. With the memo, the first
    * construction writes and every later one reuses the identical files —
    * sound because a cut name embeds [[key]] of its source dir and the
    * derivation is deterministic, so same name ⟹ same rows. [[sweep]]
    * (which deletes the files) and [[resetCuts]] (the crossover
    * experiment's per-measurement hook, so a timed materialized run
    * always pays its write) clear it.
    *
    * The producer is BY-NAME, so once the cut is written this run a later
    * consumer never builds it at all. That matters where CONSTRUCTION is
    * itself the expensive work (an iterative build that writes its own
    * round checkpoints, a driver-synchronized trainer): the d7/c17 shape,
    * where both queries would otherwise rebuild the same 10-round label
    * propagation and the memo would only dedupe the final write.
    * `cutMaterialize=false` builds the producer on every call, the live
    * form CutDifferentialSpec proves result-identical.
    */
  private val written = Artifact.cuts()

  /** Forget which cut paths were written this session — next [[cut]] per
    * name pays the write again. For harness code that deletes scratch or
    * deliberately re-times the write barrier; never needed by queries.
    */
  def resetCuts(): Unit = written.reset()

  /** Invalidation hooks run by [[sweep]] alongside [[resetCuts]]: every
    * [[Artifact]] registers its reset here, so no memo anywhere can
    * outlive the files it names — the round-10 t20 failure class.
    */
  private val sweepHooks =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
  def onSweep(hook: () => Unit): Unit = { sweepHooks.add(hook); () }

  def cut(s: SparkSession, name: String)(df: => DataFrame): DataFrame =
    if (s.conf.get(CutKey, "true").toBoolean) {
      val p = dir(s, name)
      // a concurrent second constructor (harness/Par) blocks until the
      // write finishes instead of reading a partial dir
      written.once(s, name)(Sources.writeParquet(df, p))
      Sources.parquet(s, p)
    } else df

  /** Collision-resistant per-dataset key for scratch stores that WIPE
    * before publishing (u5/u6/u7/u9): the sanitized last path segment
    * (the human-readable scale, e.g. `sf0.01`) PLUS the 32-bit string
    * hash. Keying on `hashCode` alone let two different sfDirs collide
    * (String.hashCode is 32-bit), and the wipe-before-publish then
    * destroyed the OTHER scale's store mid-session (ADVICE r13); the
    * path segment disambiguates every realistic collision pair.
    */
  def key(d: String): String = {
    val seg = d.stripSuffix("/").split('/').last
      .replaceAll("[^A-Za-z0-9._-]", "_")
    f"${seg}_${d.hashCode & 0x7fffffff}%08x"
  }

  /** Delete the session's resolved scratch root recursively, plus any
    * SIBLING per-pid roots whose owning process no longer exists (a
    * killed JVM never reaches its own sweep). Refuses roots whose leaf
    * isn't graft_qtmp-shaped — a misconfigured conf must not turn
    * teardown into `rm -rf` of a shared directory. Goes through the
    * Hadoop FileSystem, so an HDFS or object-store root is swept too.
    */
  def sweep(spark: SparkSession): Unit = {
    val root = new Path(spark.conf.get(ConfKey, Default))
    if (root.getName.startsWith("graft_qtmp")) {
      // the files are about to go — no memo may outlive them
      resetCuts()
      sweepHooks.forEach(_.apply())
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(root, true)
      val parent = root.getParent
      val siblings =
        if (parent != null && fs.exists(parent)) fs.listStatus(parent)
        else Array.empty[FileStatus]
      siblings.foreach { st =>
        st.getPath.getName match {
          case n if n.startsWith("graft_qtmp_") &&
              orphaned(st, n.stripPrefix("graft_qtmp_")) =>
            fs.delete(st.getPath, true)
          case _ => ()
        }
      }
    }
  }

  /** A per-pid directory (a scratch root, a bucketed table) whose owning
    * JVM is gone: its pid is dead AND it is untouched for over an hour.
    * The age guard is there because pid liveness is judged in THIS
    * process's pid namespace — a directory created by another namespace
    * sharing the mount (container + host bind of /dev/shm) would look dead
    * here while its owner is mid-query; a live run touches its directory
    * far more often than hourly.
    */
  private[graft] def orphaned(st: FileStatus, pid: String): Boolean = {
    val alive = scala.util.Try(ProcessHandle.of(pid.toLong).isPresent).getOrElse(true)
    val staleMs = 60L * 60 * 1000
    st.isDirectory && !alive &&
      System.currentTimeMillis() - st.getModificationTime > staleMs
  }
}
