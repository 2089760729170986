package graft.operators

import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation — the missing
  * last step of near-duplicate dedup: LSH emits PAIRS, but the keep/drop
  * decision needs CLUSTERS (a–b and b–c must collapse to one survivor, even
  * though (a, c) was never emitted as a candidate).
  *
  * Each node starts labeled with itself; every iteration each node takes
  * the min of its own label and its neighbors' labels; at fixpoint every
  * node carries the min node id of its component. All data movement is
  * equi-joins and groupBy aggregations keyed on node ids — no driver-side
  * graph state; the only thing on the driver is the scalar
  * converged-this-iteration check (the standard shape of iterative
  * distributed algorithms, e.g. mllib's own loops).
  *
  * Rounds needed = component diameter; near-dup clusters are shallow
  * (cliques and short chains), so 3-5 rounds is typical. WITHOUT a
  * checkpoint, round i re-executes rounds 1..i-1 (lazy lineage) — O(i^2)
  * total work. Pass `checkpointDir` to materialize each round's labels to
  * storage and reread them: one execution per round, lineage depth 1, and
  * nothing pinned in executor memory (a .persist() here could never be
  * released — the caller owns the returned plan's lifetime). The final
  * result then reads from the last checkpoint, so downstream actions don't
  * replay the loop either.
  */
object ConnectedComponents {

  /** (node, comp) for every node appearing in `edges`, comp = min node id
    * reachable. Deterministic: the fixpoint is unique regardless of
    * execution order.
    */
  def propagateMinLabel(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20, checkpointDir: Option[String] = None): DataFrame = {
    val sym = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node"))
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      val neighborMin = sym
        .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(min(col("comp")).as("nmin"))
      // keep old and new label side by side so the convergence check can
      // run AFTER the checkpoint (off the materialized files, not a
      // second execution of the join)
      val joined = labels
        .join(neighborMin, Seq("node"), "left")
        .select(col("node"), col("comp"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp2"))
      val next = checkpointDir.fold(joined)(dir =>
        Sources.checkpoint(joined, s"$dir/iter_$i"))
      converged = next.filter(col("comp2") < col("comp")).isEmpty
      labels = next.select(col("node"), col("comp2").as("comp"))
      i += 1
    }
    // exiting via the iteration cap means a component wider than maxIter
    // hops still carries split labels — silently wrong clusters. Surface it:
    // callers that can tolerate partial labels see the warning; d7-style
    // exact consumers should raise maxIter (rounds needed = component
    // diameter, so the warning firing at all means unusually deep chains).
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"propagateMinLabel stopped at maxIter=$maxIter BEFORE convergence — " +
          "labels may be partially propagated; raise maxIter")
    labels
  }
}
