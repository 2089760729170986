package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession construction for the engine's runnable surfaces.
  *
  * Conf decisions, and how they move to a 1000-executor cluster:
  *  - AQE on (default in Spark 4): runtime coalescing of shuffle
  *    partitions, skew-join splitting, and dynamic join-strategy switches
  *    are the first line of defense at 100 TB; nothing here disables them.
  *  - `spark.sql.shuffle.partitions` is sized to the local core count; on a
  *    real cluster set it to 2-3x total executor cores and let AQE coalesce
  *    down (with `spark.sql.files.maxPartitionBytes` at its 128 MB default,
  *    a 100 TB scan yields ~800k input splits — shuffle width, not input
  *    width, is the knob that matters).
  *  - graft.plans.GraftExtensions installs the engine's optimizer rules in
  *    every session, so SQL-text users get the native-expression rewrites.
  *  - UTC session timezone: parquet timestamp comparisons (and the DuckDB
  *    oracle) are timezone-sensitive.
  *  - heartbeat/network timeouts are raised well above the defaults (10 s /
  *    120 s): on a CPU-steal-throttled host the default heartbeat starves
  *    and the driver kills the executor mid-suite (round 7's bench died
  *    exactly this way — "unable to send heartbeats to driver more than 60
  *    times"). A starved run must degrade to SLOW, never to DEAD; the same
  *    settings are standard practice on busy multi-tenant clusters.
  *  - `spark.sql.codegen.cache.maxEntries` is [[CodegenCacheEntries]], not
  *    Spark's 100: see that constant for the measured working set, the
  *    memory cost and how the setting carries to a cluster.
  *  - `spark.sql.artifact.isolation.enabled` is off. The engine adds no
  *    jars or files to a session, so per-session artifact isolation buys
  *    nothing, and it costs a recompile: each `newSession()` (every
  *    st-family drain runs on one) got its own executor class loader, the
  *    codegen cache keys on the class loader, so every class a drain's
  *    tasks compiled was compiled again on the next drain (19 per st1
  *    drain; BENCH_NOTES "Codegen cache").
  */
object Sessions {

  /** Capacity of Spark's generated-class cache (`CodeGenerator.cache`,
    * keyed by class loader and generated source). At Spark's default of
    * 100 entries a registry pass compiles ~6,000 classes, of which ~4,000
    * are distinct, so each repeated query or pass finds its classes
    * evicted and pays Janino again. The registry census (BENCH_NOTES
    * "Codegen cache", `graft.CodegenCensusMain`) measured 3,930 distinct
    * classes in one pass at sf0.01 and 3,913 at sf0.1; 8192 holds the
    * larger with 2x headroom, so a second pass compiles only code the
    * first did not generate (175 classes at sf0.1, against 5,905 at 100
    * entries). The bound stays
    * finite on purpose, so code that differs on every run cannot grow the
    * cache without limit.
    *
    * Memory, after two registry passes at sf0.01 / sf0.1 against the
    * default: heap after GC +115 / +123 MB, Metaspace +28 / +30 MB.
    *
    * Cluster: the conf is static and the cache is a per-JVM singleton,
    * sized once when `CodeGenerator` is first used. Executors compile the
    * same generated sources for their tasks through their own copy of the
    * same cache, so the setting carries to every executor JVM unchanged.
    */
  val CodegenCacheEntries: Int = 8192

  def local(cores: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS); set at build time so reads
      // don't mutate session conf (Tables.table keeps a defensive set for
      // caller-supplied sessions)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Scratch opt-in: tmpfs only when this host's /dev/shm has headroom
    // (the disk on the bench VM syncs small writes at ~10 MB/s; a stock
    // container's 64 MB /dev/shm must fall through to the disk default).
    // An explicit user conf always wins.
    if (s.conf.getOption(Scratch.ConfKey).isEmpty && Scratch.tmpfsUsable)
      s.conf.set(Scratch.ConfKey, Scratch.TmpfsCandidate)
    s
  }
}
