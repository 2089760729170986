package graft.operators

import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted PageRank by fixed-iteration power method — the authority
  * signal pretraining-data curation uses to rank domains (a page/domain
  * linked from high-rank places is itself high-rank; CommonCrawl-style
  * pipelines gate ingestion on exactly this score). Same iterative shape
  * as [[ConnectedComponents]]: all data movement is equi-joins and
  * groupBy aggregations keyed on node id, nothing graph-shaped lives on
  * the driver (only the scalar node count), and every round's ranks are
  * checkpointed to storage so round i neither replays rounds 1..i-1
  * (lazy lineage would make the loop O(i²)) nor pins anything in
  * executor memory.
  *
  * Scale notes:
  *  - the edge frame is joined once per round on `src` and aggregated on
  *    `dst`; at cluster scale, pre-partitioning edges by `src` (or
  *    bucketing the edge table) makes the per-round join exchange-free on
  *    the big side — ranks (one row per node) are the small side.
  *  - dangling nodes (no out-edges) keep receiving the teleport term but
  *    their mass is not redistributed — total rank then sums to < 1,
  *    which is the cheap-and-standard variant when only the ORDER of
  *    scores matters (curation thresholds), not the exact distribution.
  *  - fixed iteration count, not a convergence test: curation reruns want
  *    bit-reproducible scores, and the power method's residual after k
  *    rounds is bounded by damping^k regardless of graph size.
  */
object PageRank {

  /** (node, rank) for every node appearing in `edges` as src or dst.
    * Rank transfer along an edge is proportional to its weight's share of
    * the source's total out-weight.
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      iters: Int = 8, damping: Double = 0.85,
      checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast("double").as("w"))
    // materialize the loop invariants once when storage is available:
    // without this, every iteration's lineage re-runs the node distinct
    // and the out-weight aggregate — wasted stages that multiply by the
    // iteration count (the same rule as d7's edge materialization)
    val allNodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val nodes = checkpointDir.fold(allNodes)(dir =>
      Sources.checkpoint(allNodes, s"$dir/nodes"))
    // scalar only — the one driver-side value an iterative distributed
    // loop legitimately needs (same contract as ConnectedComponents'
    // convergence flag)
    val n = nodes.count()
    val outw = e.groupBy("src").agg(sum(col("w")).as("ow"))
    val weighted = e.join(outw, "src")
    val ew = checkpointDir.fold(weighted)(dir =>
      Sources.checkpoint(weighted, s"$dir/ew"))
    val teleport = 1.0 - damping
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (i <- 0 until iters) {
      val contrib = ew
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") * col("w") / col("ow")).as("in_mass"))
      val next = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport / n) + lit(damping) * coalesce(col("in_mass"), lit(0.0)))
            .as("rank"))
      ranks = checkpointDir.fold(next)(dir =>
        Sources.checkpoint(next, s"$dir/iter_$i"))
    }
    ranks
  }

  /** [[run]] for SCHEMA-BOUNDED node spaces (g2's nation-keyed trade
    * graph: <= |nation| nodes at ANY corpus scale, so the weighted edge
    * aggregate is at most |nation|² rows) — the MarkovChain.stationary
    * r17 collapse applied to PageRank: the aggregated edge table folds
    * into ONE row (sorted node array + index-encoded edge array) and the
    * `iters` power rounds run as a single higher-order `aggregate` fold,
    * replacing `iters` join+groupBy stages and their per-round
    * checkpoint write+read cadence with one codegen'd job. Per-term
    * arithmetic is IDENTICAL to the join form — teleport/n + damping *
    * Σ rank·w/ow, each term one multiply + one divide — only the SUM
    * ORDER differs (fixed sorted-edge order here vs partial-aggregation
    * order there), which is inside the 1e-6 reporting grain every
    * consumer rounds at (DecisionAudit's GrainMargin entry re-verifies
    * the margin against current data; PageRankSpec pins fold == join
    * form to 1e-12 on a hand-checked digraph). The edge array is
    * `array_sort`ed so the fold's summation order never depends on
    * collect_list's task order — bit-reproducible across runs. Constants
    * cross into SQL as round-tripped string casts (a bare 0.15 literal
    * would parse as DECIMAL). For corpus-bounded graphs keep [[run]]:
    * a one-row collapse of an unbounded edge set is the driver-collect
    * hazard, not an optimization.
    */
  def runDense(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iters: Int = 8, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    def dbl(v: Double) = s"CAST('${v}' AS DOUBLE)"
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast("double").as("w"))
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val onerow = e.join(outw, "src")
      .agg(collect_set(col("src")).as("srcs"),
        collect_set(col("dst")).as("dsts"),
        collect_list(struct(col("src").as("f"), col("dst").as("t"),
          col("w"), col("ow"))).as("raw"))
      .select(sort_array(array_distinct(concat(col("srcs"), col("dsts"))))
          .as("nodes"), col("raw"))
      .select(col("nodes"),
        expr("""array_sort(transform(raw, e -> named_struct(
               |  'si', CAST(array_position(nodes, e.f) AS INT),
               |  'di', CAST(array_position(nodes, e.t) AS INT),
               |  'w', e.w, 'ow', e.ow)))""".stripMargin).as("edges"))
    val vfold =
      s"""aggregate(sequence(1, $iters),
         |  transform(nodes, x -> ${dbl(1.0)} / size(nodes)),
         |  (acc, r) -> transform(sequence(1, size(nodes)), j ->
         |    ${dbl(1.0 - damping)} / size(nodes) + ${dbl(damping)} *
         |      aggregate(edges, ${dbl(0.0)}, (a, e) ->
         |        a + IF(e.di = j,
         |              element_at(acc, e.si) * e.w / e.ow,
         |              ${dbl(0.0)}))))""".stripMargin
    onerow.select(col("nodes"), expr(vfold).as("v"))
      .select(posexplode(col("nodes")).as(Seq("i", "node")), col("v"))
      .select(col("node"), expr("element_at(v, i + 1)").as("rank"))
  }
}
