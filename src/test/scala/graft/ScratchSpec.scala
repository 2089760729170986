package graft

/** The scratch-dir conf (VERDICT r4 #6): query modules resolve scratch
  * space through spark.graft.scratchDir instead of absolute path literals.
  */
class ScratchSpec extends SparkSpec {

  test("scratch dir defaults and follows the session conf") {
    spark.conf.unset(Scratch.ConfKey)
    assert(Scratch.dir(spark, "x") == s"${Scratch.Default}/x")
    spark.conf.set(Scratch.ConfKey, "/root/repo/target/test-tmp/alt-scratch")
    try assert(Scratch.dir(spark, "x")
      == "/root/repo/target/test-tmp/alt-scratch/x")
    finally spark.conf.unset(Scratch.ConfKey)
  }

  test("default is disk-backed; tmpfs is strictly an opt-in with headroom") {
    // VERDICT r7 advice: a /dev/shm default ENOSPCs in any stock container
    // (64 MB shm). The default must live under java.io.tmpdir; Sessions
    // .local opts into tmpfs only after checking real usable space.
    assert(Scratch.Default.startsWith(
      sys.props.getOrElse("java.io.tmpdir", "/tmp").stripSuffix("/")))
    assert(!Scratch.Default.startsWith("/dev/shm"))
  }

  test("sweep removes the per-run scratch tree, and only a graft_qtmp one") {
    val root = "/root/repo/target/test-tmp/sweep-check/graft_qtmp"
    spark.conf.set(Scratch.ConfKey, root)
    try {
      val probe = new java.io.File(s"$root/some_query/part-0")
      probe.getParentFile.mkdirs()
      java.nio.file.Files.writeString(probe.toPath, "ephemeral")
      Scratch.sweep(spark)
      assert(!new java.io.File(root).exists(), "sweep must delete the tree")

      // a conf pointing anywhere else must be refused, not recursed into
      val guarded = "/root/repo/target/test-tmp/sweep-guard"
      new java.io.File(s"$guarded/keep").mkdirs()
      spark.conf.set(Scratch.ConfKey, guarded)
      Scratch.sweep(spark)
      assert(new java.io.File(s"$guarded/keep").exists(),
        "sweep must refuse roots that are not a graft_qtmp leaf")
    } finally spark.conf.unset(Scratch.ConfKey)
  }

  test("scratch root is per-process; sweep reaps only dead-pid siblings") {
    // round-10 lesson: two harness JVMs sharing one scratch root race —
    // the first to exit sweeps the other's cached intermediates mid-query
    // (t20's PATH_NOT_FOUND on the sf0.1 drill leg). Roots carry the pid;
    // sweep additionally reaps siblings whose owner is gone, so killed
    // JVMs can't accumulate stale tmpfs parquet.
    val myPid = ProcessHandle.current().pid()
    assert(Scratch.Default.endsWith(s"graft_qtmp_$myPid"),
      s"default root must embed this pid: ${Scratch.Default}")
    val base = "/root/repo/target/test-tmp/sweep-sib"
    val mine = s"$base/graft_qtmp_$myPid"
    val alive = s"$base/graft_qtmp_1"          // pid 1 always exists
    val dead = s"$base/graft_qtmp_999999999"   // beyond pid_max, stale
    val deadFresh = s"$base/graft_qtmp_999999998" // dead pid, FRESH mtime
    Seq(mine, alive, dead, deadFresh)
      .foreach(p => new java.io.File(s"$p/x").mkdirs())
    // stale = untouched for > 1 h; pid-namespace skew makes liveness
    // alone untrustworthy across bind-mounted scratch, so reaping needs
    // BOTH dead-pid and stale-mtime
    new java.io.File(dead).setLastModified(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    spark.conf.set(Scratch.ConfKey, mine)
    try {
      Scratch.sweep(spark)
      assert(!new java.io.File(mine).exists(), "own root must be swept")
      assert(new java.io.File(alive).exists(),
        "a sibling owned by a LIVE pid must be left alone")
      assert(!new java.io.File(dead).exists(),
        "a stale sibling owned by a dead pid must be reaped")
      assert(new java.io.File(deadFresh).exists(),
        "a FRESH dead-pid sibling must survive (cross-namespace guard)")
    } finally {
      spark.conf.unset(Scratch.ConfKey)
      Seq(alive, dead, deadFresh).foreach(p => {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(p))
      })
    }
  }

  test("cut memoizes its write: a second construction under the same name " +
      "reuses the files, so an earlier handle never goes stale") {
    // ADVICE r15: u1/u2/u10/u11 share the uchg_* cut name; before the memo,
    // constructing u2 REWROTE the part files while u1's DataFrame still
    // held the old file listing — executing that stale handle threw
    // FileNotFoundException. Now the first construction writes, later ones
    // read the identical files.
    import spark.implicits._
    val root = "/root/repo/target/test-tmp/cut-memo/graft_qtmp"
    spark.conf.set(Scratch.ConfKey, root)
    Scratch.resetCuts()
    try {
      def frame = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      val first = Scratch.cut(spark, "memo_probe")(frame)
      def listing = new java.io.File(s"$root/memo_probe")
        .listFiles().map(_.getName).sorted.toSeq
      val before = listing
      val second = Scratch.cut(spark, "memo_probe")(frame)
      assert(listing == before,
        "second construction must NOT rewrite the memoized files")
      // the earlier handle still executes against the original files
      assert(first.count() == 2 && second.count() == 2)
      // resetCuts is the explicit opt-out: the next cut pays its write
      Scratch.resetCuts()
      Scratch.cut(spark, "memo_probe")(frame)
      assert(listing != before,
        "after resetCuts the write must happen again (fresh part files)")
      // the live-lineage toggle bypasses the memo entirely
      spark.conf.set(Scratch.CutKey, "false")
      try assert(Scratch.cut(spark, "memo_other")(frame).inputFiles.isEmpty
        || !new java.io.File(s"$root/memo_other").exists(),
        "cutMaterialize=false must not write scratch")
      finally spark.conf.set(Scratch.CutKey, "true")
      Scratch.sweep(spark)
      assert(!new java.io.File(root).exists())
    } finally {
      spark.conf.unset(Scratch.ConfKey)
      Scratch.resetCuts() // memoized paths under the test root are gone
    }
  }

  test("sweep invalidates every artifact memo, so consumers rebuild " +
      "instead of reading deleted files") {
    // the round-10 t20 class: a memo that outlives a sweep hands the next
    // consumer a path whose files are gone
    spark.conf.unset(Scratch.ConfKey)
    graft.queries.GraphTemporalQueries.pretrainEdges(spark, sfDir)
    Scratch.sweep(spark)
    SparkEntry.queries("g3_triangle_count")(spark, sfDir).collect()
    graft.queries.PipelineQueries.pretrainIvf(spark, sfDir)
    Scratch.sweep(spark)
    SparkEntry.queries("e4_ann_ivf")(spark, sfDir).collect()
  }

  test("an IO round-trip query lands in the configured scratch dir") {
    val alt = "/root/repo/target/test-tmp/scratch-redirect"
    spark.conf.set(Scratch.ConfKey, alt)
    try {
      SparkEntry.queries("s2_parquet_roundtrip")(spark, sfDir).collect()
      assert(new java.io.File(s"$alt/s2_orders").exists())
    } finally spark.conf.unset(Scratch.ConfKey)
  }
}
