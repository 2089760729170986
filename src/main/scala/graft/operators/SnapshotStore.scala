package graft.operators

import graft.sources.Sources
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic versioned snapshot publish on plain parquet — the minimal
  * table-format kernel under the u1/u2/u3 snapshot family: data for
  * version N lives in `root/v<N>/`, and a single pointer file
  * `root/_CURRENT` names the live version. Publish writes the new data
  * directory COMPLETELY, then swaps the pointer with a tmp-write +
  * atomic rename — so a reader never sees a half-written version and a
  * crash anywhere before the swap leaves the previous version live
  * (write-side crash = garbage directory, never a corrupt table; the
  * failure mode DocIngest documents for its two-write sequence collapses
  * here into one pointer swap). This is the core idea of
  * Iceberg/Delta-style metadata pointers re-expressed in ~60 lines; at
  * 100 TB the data write is the same distributed parquet job, and the
  * pointer swap stays a single metadata op on the coordinator path.
  *
  * Old versions remain readable (`readVersion`) until vacuumed — which
  * is what makes snapshot diff (u2) and time-travel debugging possible.
  */
object SnapshotStore {

  private val Pointer = "_CURRENT"

  private def fs(s: SparkSession, root: String) =
    new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  def currentVersion(s: SparkSession, root: String): Option[Int] = {
    val p = new Path(root, Pointer)
    val f = fs(s, root)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toInt)
      finally in.close()
    }
  }

  /** Write `df` as the next version and atomically make it current.
    * Returns the published version number.
    *
    * WRITER-vs-WRITER safety (r9 advice): version allocation is a
    * read-modify-write of _CURRENT, so two concurrent publishers would
    * pick the same N and silently clobber each other's v<N> directory.
    * The commit is therefore CONDITIONAL: before writing any data, the
    * publisher claims its version by creating `v<N>._claim` with
    * overwrite=false — an atomic create-exclusive on HDFS and local
    * filesystems — and a collision fails the publish loudly instead of
    * losing a commit. Claim markers persist after publish (deleting one
    * would re-open the race for a still-running publisher that read the
    * old pointer); vacuum removes them with their data directories. A
    * publisher that crashes between claim and pointer swap leaves its
    * claim blocking that version number — the previous version stays
    * live, and the error message names the marker to delete once the
    * dead publisher is confirmed gone.
    */
  def publish(df: DataFrame, root: String): Int = {
    val s = df.sparkSession
    val next = currentVersion(s, root).getOrElse(0) + 1
    val f = fs(s, root)
    f.mkdirs(new Path(root))
    val claim = new Path(root, s"v$next._claim")
    // HDFS's create(overwrite=false) is namenode-atomic, but the LOCAL
    // FileSystem implements it as exists()-then-create — a TOCTOU window
    // two concurrent publishers can both slip through (caught by the
    // SnapshotStoreSpec race test). On file: URIs go through NIO's
    // createFile, the O_CREAT|O_EXCL form the kernel serializes.
    // ONLY already-exists maps to "collision" — any other IO failure must
    // propagate as itself, or the error message would advise deleting a
    // marker that may belong to a LIVE publisher (re-opening the race).
    val claimed =
      if (f.getScheme == "file")
        try {
          java.nio.file.Files.createFile(
            java.nio.file.Paths.get(claim.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      else
        try { f.create(claim, false).close(); true }
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    if (!claimed)
      throw new IllegalStateException(
        s"publish collision on version $next under $root: another " +
          s"publisher holds $claim (concurrent publish, or a crashed one " +
          "— delete the marker only once that publisher is confirmed dead)")
    // From here the claim is OURS: if anything fails before the pointer
    // swap commits, release it so the same (sole) publisher can simply
    // retry — a transient write failure must not brick version `next`
    // behind a collision error until someone hand-deletes the marker.
    try {
      df.write.mode("overwrite").parquet(s"$root/v$next")
      val tmp = new Path(root, s"$Pointer.tmp")
      val out = f.create(tmp, true)
      try out.write(next.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      // rename-with-OVERWRITE is the atomic commit point. FileSystem.rename
      // refuses to clobber, and delete-then-rename would open a window where
      // a concurrent reader finds NO pointer at all — FileContext's
      // Options.Rename.OVERWRITE is the posix-rename form that replaces the
      // old pointer in one metadata op.
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        new Path(root).toUri, s.sparkContext.hadoopConfiguration)
      fc.rename(tmp, new Path(root, Pointer),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case e: Throwable =>
        scala.util.Try(f.delete(claim, false))
        throw e
    }
    next
  }

  def readVersion(s: SparkSession, root: String, v: Int): DataFrame =
    Sources.parquet(s, s"$root/v$v")

  /** Delta-style RESTORE: re-commit the CONTENT of `toVersion` as a
    * brand-new version and return the new version number. Rolling back
    * is a forward commit on purpose — the pointer never moves backward,
    * so a reader's "the live version only grows" invariant survives, the
    * versions between `toVersion` and the rollback stay readable for
    * time travel / diff forensics, and writer safety is publish's own
    * claim protocol (no second commit path to keep correct). In this
    * physical-directory store the restore rewrites the data; a
    * manifest-based format restores by reference — the operator contract
    * (RESTORE = a new commit carrying the old content) is identical.
    */
  def rollback(s: SparkSession, root: String, toVersion: Int): Int = {
    val cur = currentVersion(s, root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    require(toVersion >= 1 && toVersion <= cur,
      s"rollback target v$toVersion outside published history 1..$cur")
    // Retention is a POLICY boundary, not an accident of storage: a
    // version inside published history whose data directory was
    // reclaimed by vacuum() must fail with the policy named — not leak
    // a parquet path-not-found from readVersion — because the caller's
    // remedy (lengthen retention, or restore from a surviving version)
    // is different from the remedy for a corrupt store.
    if (!fs(s, root).exists(new Path(s"$root/v$toVersion")))
      throw new IllegalStateException(
        s"rollback target v$toVersion was vacuumed past the retention " +
          s"window under $root: retention makes rollback outside the " +
          "window impossible BY POLICY — restore from a retained " +
          "version or lengthen `keep` before vacuuming")
    publish(readVersion(s, root, toVersion), root)
  }

  /** Retention: delete data directories of versions older than the
    * `keep` most recent (the current version is always retained; keep
    * >= 1). Returns the versions removed. Orphan directories from
    * crashed publishes (data written, pointer never swapped) at numbers
    * ABOVE current are untouched — the next publish overwrites them.
    */
  def vacuum(s: SparkSession, root: String, keep: Int): Seq[Int] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val cur = currentVersion(s, root).getOrElse(return Nil)
    val f = fs(s, root)
    (1 to cur - keep).filter { v =>
      val p = new Path(s"$root/v$v")
      val removed = f.exists(p) && f.delete(p, true)
      // claim cleanup is unconditional for retired version numbers: a
      // prior partial vacuum (data gone, claim left) must not orphan the
      // marker forever
      f.delete(new Path(s"$root/v$v._claim"), false)
      removed
    }
  }

  /** The live snapshot (throws if nothing was ever published). */
  def read(s: SparkSession, root: String): DataFrame = {
    val v = currentVersion(s, root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    readVersion(s, root, v)
  }
}
