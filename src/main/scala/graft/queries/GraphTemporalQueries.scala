package graft.queries

import graft.sources.Sources
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Artifact, Q, Tables}

/** Round-8 surface growth: graph analytics beyond PageRank/components
  * (triangle counting), temporal/CDC modeling (SCD2 history build),
  * time-series regularization (gap fill + forward fill), per-key anomaly
  * detection, and string-similarity fuzzy matching — the remaining ops a
  * production curation/warehouse pipeline runs that no earlier block
  * covered. Same contract as every other module: identical arithmetic in
  * the DuckDB oracle, a TOTAL output order, and floats only ever emitted
  * through round() at the grain of their true value.
  */
object GraphTemporalQueries {
  import Tables._

  /** DuckDB SQL fragment: 32-bit md5-derived hash (mirror of
    * TextFunctions.hash32; same fragment as PipelineQueries.sqlH32).
    */
  private def sqlH32(e: String): String =
    s"('0x' || substr(md5($e), 1, 8))::BIGINT"

  /** Materialized part co-occurrence edge table (parts appearing together
    * in >= 2 orders, canonically oriented u < v) shared by g3 (triangles),
    * g4 (label propagation) and g5 (BFS). Built ONCE per (session, sfDir)
    * and persisted to scratch parquet — the production shape: a curated
    * edge list is a maintained artifact that every downstream graph
    * analytic reads, not something each query re-derives from the raw
    * fact table (at 100 TB the pairs self-join is the dominant cost and
    * amortizing it across the analytics family is the whole point).
    * Bench reports the build as its own "_edges_build" entry, so g3/g4/g5
    * measure the graph algorithm, not the shared extraction. The table
    * keeps the co-occurrence count `c` (the edge weight g6 prices hops
    * with); the unweighted consumers project it away at read, so the
    * parquet scan prunes the column — one build serves both the topology
    * family (g3/g4/g5) and the weighted family (g6).
    */
  private val coocEdgeTable = Artifact("_edges_build") { (s, d) =>
    val pairs = lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val e = pairs.as("x")
      .join(pairs.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey")
          && col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("u"), col("y.l_partkey").as("v"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
    val p = graft.Scratch.dir(s, s"cooc_edges_${graft.Scratch.key(d)}")
    e.write.mode("overwrite").parquet(p)
    p
  }
  private def coocEdgesWeighted(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Sources.parquet(s, coocEdgeTable.get(s, d))
  private[graft] def coocEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    coocEdgesWeighted(s, d).select(col("u"), col("v"))

  def pretrainEdges(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    coocEdges(s, d); ()
  }

  def clearCaches(): Unit = coocEdgeTable.reset()

  /** Three rounds of synchronous LPA over the shared co-occurrence graph
    * (g4's operator, shared with g11's modularity rollup): every node
    * starts as its own label, adopts the most frequent neighbor label,
    * ties broken by the SMALLEST label (the total tie-break that makes
    * sync-LPA deterministic). The neighbor table is loop-invariant —
    * materialized once — and every round checkpoints to scratch so
    * lineage stays O(1). `tag` keys the scratch dirs so two queries in
    * one session never clobber each other's rounds.
    */
  /** The exact 3-round LPA label frame shared by g4 (the labels ARE its
    * output) and g11 (modularity scores them). r17: the finished labels
    * ride [[graft.Scratch.cut]]'s by-name producer — the propagation is
    * an EAGER build (per-round checkpoint writes, the d7/c17 class), so
    * each suite run pays it once (g11 sorts first and pays; g4 reads the
    * identical frame). `tag` still isolates the BUILDER's per-round
    * scratch dirs so the `cutMaterialize=false` live form (per-consumer
    * rebuild — CutDifferentialSpec proves it row-identical) never
    * interleaves two consumers' round files.
    */
  private def lpaLabels(s: org.apache.spark.sql.SparkSession, d: String,
      tag: String): org.apache.spark.sql.DataFrame =
    graft.Scratch.cut(s, s"lpa3_${graft.Scratch.key(d)}") {
      val e = coocEdges(s, d)
      val nb = Sources.checkpoint(
        e.select(col("u").as("node"), col("v").as("nbr"))
          .union(e.select(col("v"), col("u"))),
        graft.Scratch.dir(s, s"${tag}_nb"))
      var labels = nb.select(col("node")).distinct()
        .select(col("node"), col("node").as("label"))
      for (round <- 1 to 3) {
        val next = nb
          .join(labels.select(col("node").as("ln"), col("label")),
            col("nbr") === col("ln"))
          .groupBy(col("node"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("node"))
          .agg(min(struct(negate(col("cnt")), col("label"))).as("best"))
          .select(col("node"), col("best.label").as("label"))
        labels = Sources.checkpoint(next,
          graft.Scratch.dir(s, s"${tag}_round$round"))
      }
      labels
    }

  val all: Seq[Q] = Seq(

    // G3: triangle counting over the part co-occurrence graph (parts
    // appearing together in >= 2 orders — the support threshold is the
    // scale lever: it prunes the one-off co-occurrences that make retail
    // baskets a near-clique and bounds edge count roughly linearly in
    // orders). Edges are canonically oriented u<v, so the two-hop join
    // (ab.v=bc.u) + closing-edge semi-check counts each triangle exactly
    // once with NO post-hoc dedup — the classic distributed node-iterator
    // shape: two shuffle joins on edge endpoints, no driver state. At
    // 100 TB the same plan holds; the support threshold and (if degrees
    // skew) a hub-degree cap keep the wedge intermediate bounded.
    Q("g3_triangle_count",
      (s, d) => {
        val e = coocEdges(s, d)
        val ab = e.select(col("u").as("a"), col("v").as("b"))
        val bc = e.select(col("u").as("b2"), col("v").as("c"))
        val ac = e.select(col("u").as("a2"), col("v").as("c2"))
        val tri = ab.join(bc, col("b") === col("b2"))
          .join(ac, col("a") === col("a2") && col("c") === col("c2"))
          .select(col("a"), col("b"), col("c"))
        tri.select(col("a").as("p_partkey"))
          .union(tri.select(col("b")))
          .union(tri.select(col("c")))
          .groupBy(col("p_partkey"))
          .agg(count(lit(1)).as("n_tri"))
          .orderBy(col("n_tri").desc, col("p_partkey"))
          .limit(100)
      },
      Some("""WITH pairs AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
             |      FROM pairs a JOIN pairs b
             |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2 HAVING count(*) >= 2),
             |tri AS (SELECT ab.u AS a, ab.v AS b, bc.v AS c
             |        FROM e ab JOIN e bc ON ab.v = bc.u
             |        JOIN e ac ON ac.u = ab.u AND ac.v = bc.v)
             |SELECT p_partkey, count(*) AS n_tri FROM (
             |  SELECT a AS p_partkey FROM tri
             |  UNION ALL SELECT b FROM tri
             |  UNION ALL SELECT c FROM tri)
             |GROUP BY 1 ORDER BY n_tri DESC, p_partkey LIMIT 100""".stripMargin),
      needs = Seq(coocEdgeTable)),

    // G8: k-core decomposition (fixed k=2) by iterative peel — the graph
    // curation primitive behind "keep the densely-linked subweb"
    // filtering (Batagelj-Zaversnik peel, distributed form): each round
    // drops nodes whose degree in the SURVIVING subgraph is < k, exactly
    // like g2's fixed-iteration discipline — 6 peel rounds, each one
    // semi-join pair (edges among survivors) + one partial-combining
    // degree aggregate, per-round scratch checkpoint so lineage stays
    // O(1), NO driver value ever (even the convergence flag is computed
    // relationally: |a7| == |a8| as two broadcast one-row aggregates).
    // The output carries that `converged` flag as in-row evidence that 8
    // rounds reached the true k-core fixpoint on this data (measured: 1 /
    // 4 / 6 rounds to fixpoint at sf0.001/0.01/0.1); the oracle unrolls
    // the identical 8 rounds as chained MATERIALIZED CTEs.
    Q("g8_kcore",
      (s, d) => {
        val kk = 2
        val rounds = 8
        val scratch = graft.Scratch.dir(s, "g8")
        val e0 = coocEdges(s, d)
        def among(act: org.apache.spark.sql.DataFrame) = e0
          .join(act.select(col("n").as("u")), Seq("u"), "left_semi")
          .join(act.select(col("n").as("v")), Seq("v"), "left_semi")
        def degrees(ee: org.apache.spark.sql.DataFrame) = ee
          .select(col("u").as("n")).union(ee.select(col("v")))
          .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        var act = Sources.checkpoint(e0.select(col("u").as("n"))
          .union(e0.select(col("v"))).distinct(), s"$scratch/a0")
        var prev = act
        for (r <- 1 to rounds) {
          prev = act
          act = Sources.checkpoint(degrees(among(act))
            .filter(col("deg") >= kk).select(col("n")), s"$scratch/a$r")
        }
        val degF = degrees(among(act))
        val cPrev = prev.agg(count(lit(1)).as("np"))
        val cCur = act.agg(count(lit(1)).as("nc"))
        act.join(degF, Seq("n"), "left")
          .crossJoin(broadcast(cPrev)).crossJoin(broadcast(cCur))
          .select(col("n").as("p_partkey"),
            coalesce(col("deg"), lit(0L)).as("deg_core"),
            (col("np") === col("nc")).cast("int").as("converged"))
          .orderBy("p_partkey")
      },
      Some {
        // every CTE is MATERIALIZED: each round references the previous
        // active set twice and the edge table once, so inlined CTEs blow
        // up exponentially over 6 rounds (DuckDB re-opened lineitem
        // dozens of times — "Too many open files" before it got slow)
        def round(r: Int): String = {
          val pa = s"a${r - 1}"
          s"""e$r AS MATERIALIZED (SELECT e.u, e.v FROM e
             |  JOIN $pa x ON e.u = x.n JOIN $pa y ON e.v = y.n),
             |d$r AS MATERIALIZED (SELECT n, count(*) AS deg FROM
             |  (SELECT u AS n FROM e$r UNION ALL SELECT v FROM e$r)
             |  GROUP BY n),
             |a$r AS MATERIALIZED (SELECT n FROM d$r WHERE deg >= 2)""".stripMargin
        }
        s"""WITH pairs AS MATERIALIZED (
           |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |e AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
           |      FROM pairs a JOIN pairs b
           |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           |      GROUP BY 1, 2 HAVING count(*) >= 2),
           |a0 AS MATERIALIZED (SELECT u AS n FROM e UNION SELECT v FROM e),
           |${(1 to 8).map(round).mkString(",\n")},
           |ef AS (SELECT e.u, e.v FROM e
           |  JOIN a8 x ON e.u = x.n JOIN a8 y ON e.v = y.n),
           |df AS (SELECT n, count(*) AS deg FROM
           |  (SELECT u AS n FROM ef UNION ALL SELECT v FROM ef) GROUP BY n),
           |cp AS (SELECT count(*) AS np FROM a7),
           |cc AS (SELECT count(*) AS nc FROM a8)
           |SELECT a8.n AS p_partkey,
           |  CAST(coalesce(df.deg, 0) AS BIGINT) AS deg_core,
           |  CAST(np = nc AS INT) AS converged
           |FROM a8 LEFT JOIN df ON a8.n = df.n
           |CROSS JOIN cp CROSS JOIN cc
           |ORDER BY p_partkey""".stripMargin
      },
      needs = Seq(coocEdgeTable)),

    // G9: HITS hubs & authorities over the bipartite customer->supplier
    // interaction graph — the link-analysis twin of g2's PageRank, and
    // the natural bipartite form (hubs = buyers, authorities = sellers;
    // at corpus scale: hubs = crawl seeds, authorities = domains). Two
    // full mutual-reinforcement rounds (4 half-steps), each ONE equi-join
    // onto the once-materialized edge aggregate + one partial-combining
    // sum — the g2/g8 fixed-iteration discipline, per-step scratch
    // checkpoint so lineage stays O(1). Normalization is where HITS
    // usually goes float (L2 norm): here each half-step rescales by the
    // MAX via integer `score * 1000 div max` — a pure-integer decision
    // path both engines compute identically, so the query is EXACTLY
    // oracled where a float-normed HITS could never be. 64-bit headroom:
    // scores are <= 1000 after each rescale, so a half-step sum is
    // bounded by 1000 * (edges per node) — 1e9-edge hubs still sit 6
    // orders under Long.Max. The 1-row max frames ride the reviewed
    // broadcast-scalar idiom (RegistryAuditSpec BNLJ allowlist).
    Q("g9_hits",
      (s, d) => {
        val scratch = graft.Scratch.dir(s, "g9")
        val ew = Sources.checkpoint(lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("s"))
          .agg(count(lit(1)).as("w")), s"$scratch/ew")
        // cadence: a checkpoint after every half-step. r18 fused a1 into
        // h1 (a checkpoint every second half-step, bit-identical results);
        // re-measured with `graft.AbMain hits` on 4 cores the fused form
        // loses 1.10-1.12x at sf0.1 and reads 0.98-1.03x at x10, so the
        // per-step form is back (BENCH_NOTES; 32 cores unmeasured).
        def authStep(hub: org.apache.spark.sql.DataFrame, r: Int) = {
          val a = ew.join(hub, Seq("c")).groupBy(col("s"))
            .agg(sum(col("h") * col("w")).as("a"))
          Sources.checkpoint(
            a.crossJoin(broadcast(a.agg(max(col("a")).as("m"))))
              .select(col("s"), expr("a * 1000 div m").as("a")),
            s"$scratch/a$r")
        }
        def hubStep(auth: org.apache.spark.sql.DataFrame, r: Int) = {
          val h = ew.join(auth, Seq("s")).groupBy(col("c"))
            .agg(sum(col("a") * col("w")).as("h"))
          Sources.checkpoint(
            h.crossJoin(broadcast(h.agg(max(col("h")).as("m"))))
              .select(col("c"), expr("h * 1000 div m").as("h")),
            s"$scratch/h$r")
        }
        val hub0 = ew.select(col("c")).distinct().withColumn("h", lit(1000L))
        val a2 = authStep(hubStep(authStep(hub0, 1), 1), 2)
        val deg = ew.groupBy(col("s")).agg(count(lit(1)).as("n_customers"))
        a2.join(deg, Seq("s"))
          .join(broadcast(supplier(s, d)
            .select(col("s_suppkey"), col("s_name"))),
            col("s") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            col("a").as("auth_x1000"), col("n_customers"))
          .orderBy(desc("auth_x1000"), col("s_suppkey"))
          .limit(100)
      },
      Some("""WITH ew AS MATERIALIZED (
             |  SELECT o.o_custkey AS c, l.l_suppkey AS s,
             |    CAST(count(*) AS BIGINT) AS w
             |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |  GROUP BY 1, 2
             |), a1 AS MATERIALIZED (
             |  SELECT s, CAST(sum(1000 * w) AS BIGINT) AS a FROM ew GROUP BY s
             |), am1 AS (SELECT max(a) AS m FROM a1),
             |a1n AS MATERIALIZED (
             |  SELECT s, a * 1000 // m AS a FROM a1 CROSS JOIN am1),
             |h1 AS MATERIALIZED (
             |  SELECT c, CAST(sum(a1n.a * w) AS BIGINT) AS h
             |  FROM ew JOIN a1n USING (s) GROUP BY c
             |), hm1 AS (SELECT max(h) AS m FROM h1),
             |h1n AS MATERIALIZED (
             |  SELECT c, h * 1000 // m AS h FROM h1 CROSS JOIN hm1),
             |a2 AS MATERIALIZED (
             |  SELECT s, CAST(sum(h1n.h * w) AS BIGINT) AS a
             |  FROM ew JOIN h1n USING (c) GROUP BY s
             |), am2 AS (SELECT max(a) AS m FROM a2),
             |a2n AS MATERIALIZED (
             |  SELECT s, a * 1000 // m AS a FROM a2 CROSS JOIN am2),
             |deg AS (
             |  SELECT s, CAST(count(*) AS BIGINT) AS n_customers
             |  FROM ew GROUP BY s)
             |SELECT a2n.s AS s_suppkey, su.s_name, a2n.a AS auth_x1000,
             |  deg.n_customers
             |FROM a2n JOIN supplier su ON a2n.s = su.s_suppkey
             |JOIN deg USING (s)
             |ORDER BY auth_x1000 DESC, s_suppkey LIMIT 100""".stripMargin)),

    // G12: common-neighbor link prediction over the co-occurrence graph —
    // the classic "which edges are MISSING" scores (Liben-Nowell &
    // Kleinberg 2003): for every non-adjacent pair with >= 2 shared
    // neighbors, the common-neighbor count plus the preferential-
    // attachment product deg(a)*deg(b) — both exact integers, so unlike
    // Adamic-Adar (a float log under a ranking boundary — the a16
    // fragility class) the whole row oracles bit-exact. Candidate
    // generation is WEDGE ENUMERATION — the same nb-self-join shape (and
    // the same sum-of-deg² bound) as g3's triangle count; the >= 2
    // common-neighbor floor prunes before the anti-join drops existing
    // edges, and the final global order is TakeOrdered (top-100), never
    // a full sort. At 100 TB the standard prelude is a hub-degree cap on
    // nb (g10's histogram is the tool that sizes it) — the shape here is
    // unchanged by that filter.
    Q("g12_common_neighbors",
      (s, d) => {
        val e = coocEdges(s, d)
        val nb = e.select(col("u").as("node"), col("v").as("nbr"))
          .union(e.select(col("v"), col("u")))
        val cn = nb.as("x")
          .join(nb.as("y"),
            col("x.node") === col("y.node") && col("x.nbr") < col("y.nbr"))
          .groupBy(col("x.nbr").as("a"), col("y.nbr").as("b"))
          .agg(count(lit(1)).as("n_cn"))
          .filter(col("n_cn") >= 2)
        val nonEdge = cn.join(
          e.select(col("u").as("a"), col("v").as("b")),
          Seq("a", "b"), "left_anti")
        val deg = nb.groupBy(col("node")).agg(count(lit(1)).as("deg"))
        nonEdge
          .join(deg.select(col("node").as("a"), col("deg").as("deg_a")),
            Seq("a"))
          .join(deg.select(col("node").as("b"), col("deg").as("deg_b")),
            Seq("b"))
          .select(col("a"), col("b"), col("n_cn"), col("deg_a"), col("deg_b"),
            (col("deg_a") * col("deg_b")).as("pref_attach"))
          .orderBy(col("n_cn").desc, col("pref_attach").desc, col("a"),
            col("b"))
          .limit(100)
      },
      Some("""WITH pairs AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
             |      FROM pairs a JOIN pairs b
             |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2 HAVING count(*) >= 2),
             |nb AS (SELECT u AS node, v AS nbr FROM e
             |       UNION ALL SELECT v, u FROM e),
             |cn AS (SELECT x.nbr AS a, y.nbr AS b, count(*) AS n_cn
             |       FROM nb x JOIN nb y
             |         ON x.node = y.node AND x.nbr < y.nbr
             |       GROUP BY 1, 2 HAVING count(*) >= 2),
             |ne AS (SELECT cn.a, cn.b, cn.n_cn FROM cn
             |       WHERE NOT EXISTS (SELECT 1 FROM e
             |         WHERE e.u = cn.a AND e.v = cn.b)),
             |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
             |        FROM nb GROUP BY node)
             |SELECT ne.a, ne.b, CAST(ne.n_cn AS BIGINT) AS n_cn,
             |  da.deg AS deg_a, db.deg AS deg_b,
             |  da.deg * db.deg AS pref_attach
             |FROM ne JOIN deg da ON ne.a = da.node
             |JOIN deg db ON ne.b = db.node
             |ORDER BY n_cn DESC, pref_attach DESC, a, b LIMIT 100""".stripMargin),
      needs = Seq(coocEdgeTable)),

    // G13: degree assortativity over the co-occurrence graph — Newman's
    // "do hubs link to hubs?" coefficient, the structural diagnostic
    // that decides between hub-cap and salting strategies (a
    // disassortative hub-leaf graph skews very differently from an
    // assortative core). It is the Pearson correlation of (deg(u),
    // deg(v)) over the SYMMETRIZED edge list, computed by a25's exact
    // sufficient-statistics discipline: one aggregate over the directed
    // edge points, DECIMAL(38,0) vs HUGEINT, and — since Pearson r
    // itself needs a square root (a float) — the exact outputs are r²
    // at 1e6 grain via the shared drop-3-digits scaling plus the exact
    // integer SIGN of the covariance numerator; (sign, r²) determines r
    // to the same grain without any fp op. Symmetry makes Σx = Σy, so
    // only one first/second moment pair is accumulated.
    Q("g13_assortativity",
      (s, d) => {
        val e = coocEdges(s, d)
        val nb = e.select(col("u").as("node"), col("v").as("nbr"))
          .union(e.select(col("v"), col("u")))
        val deg = nb.groupBy(col("node")).agg(count(lit(1)).as("deg"))
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        nb
          .join(deg.select(col("node"), col("deg").as("dx")), Seq("node"))
          .join(deg.select(col("node").as("nbr"), col("deg").as("dy")),
            Seq("nbr"))
          .agg(count(lit(1)).as("n"),
            sum(dec(col("dx"))).as("sx"),
            sum(dec(col("dx")) * dec(col("dx"))).as("sxx"),
            sum(dec(col("dx")) * dec(col("dy"))).as("sxy"))
          // Adaptive shared-digit truncation, a25's rule (ADVICE r11): on
          // a hub-heavy graph the degree moments make |n·Sxy − Sx²| blow
          // past the fixed drop-3 form's ~1e19 headroom (Spark decimal38
          // nulls, DuckDB raises). tr = 1 at tested scales (bit-exact,
          // better than drop-3); the −18 branch keeps each `div` (LONG-
          // lowering) inside int64. See a25 for the full sizing argument.
          .select(col("n").as("n_points"),
            expr("""CASE WHEN n * sxy - sx * sx > 0 THEN 1
                   | WHEN n * sxy - sx * sx < 0 THEN -1 ELSE 0 END"""
              .stripMargin).as("sign"),
            expr("n * sxy - sx * sx").as("rnum"),
            expr("n * sxx - sx * sx").as("rden"))
          .select(col("n_points"), col("sign"), col("rnum"), col("rden"),
            expr("""CAST(concat('1', repeat('0', greatest(0,
                   |  length(CAST(abs(rnum) AS STRING)) - 16,
                   |  length(CAST(rden AS STRING)) - 18)))
                   | AS DECIMAL(38,0))""".stripMargin).as("tr"))
          .select(col("n_points"), col("sign"),
            expr("""CAST(rnum div tr AS DECIMAL(38,0))
                   | * CAST(rnum div tr AS DECIMAL(38,0)) * 1000000
                   | div nullif(CAST(rden div tr AS DECIMAL(38,0))
                   |   * CAST(rden div tr AS DECIMAL(38,0)), 0)""".stripMargin)
              .as("r2_x1e6"))
      },
      Some("""WITH pairs AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
             |      FROM pairs a JOIN pairs b
             |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2 HAVING count(*) >= 2),
             |nb AS (SELECT u AS node, v AS nbr FROM e
             |       UNION ALL SELECT v, u FROM e),
             |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
             |        FROM nb GROUP BY node),
             |pts AS (SELECT dx.deg AS x, dy.deg AS y
             |        FROM nb JOIN deg dx ON nb.node = dx.node
             |        JOIN deg dy ON nb.nbr = dy.node),
             |st AS (SELECT count(*) AS n, sum(x) AS sx,
             |         sum(x * x) AS sxx, sum(x * y) AS sxy
             |       FROM pts),
             |rr AS (
             |  SELECT n, n * sxy - sx * sx AS rnum, n * sxx - sx * sx AS rden
             |  FROM st
             |), scaled AS (
             |  SELECT *, CAST('1' || repeat('0', greatest(0,
             |      length(CAST(abs(rnum) AS VARCHAR)) - 16,
             |      length(CAST(rden AS VARCHAR)) - 18)) AS HUGEINT) AS tr
             |  FROM rr
             |)
             |SELECT CAST(n AS BIGINT) AS n_points,
             |  CASE WHEN rnum > 0 THEN 1
             |    WHEN rnum < 0 THEN -1 ELSE 0 END AS sign,
             |  CAST((rnum // tr) * (rnum // tr) * 1000000
             |    // nullif((rden // tr) * (rden // tr), 0) AS BIGINT)
             |    AS r2_x1e6
             |FROM scaled""".stripMargin),
      needs = Seq(coocEdgeTable)),

    // G10: degree-distribution histogram over the co-occurrence graph —
    // the first diagnostic a graph pipeline runs before choosing
    // partitioning (is the degree sequence heavy-tailed? does it need a
    // hub cap / salting?) and the direct input to g3's wedge-bound
    // analysis. Buckets are exact powers of two via the bit-length
    // idiom `length(bin(deg)) - 1` (t14's no-ln() discipline — no
    // float log2 anywhere near a bucket boundary), shares integer-scaled
    // against the one-row node total. One partial-combining degree agg +
    // one bucket agg; output is O(log max-degree) rows at any scale.
    Q("g10_degree_histogram",
      (s, d) => {
        val e = coocEdges(s, d)
        val deg = e.select(col("u").as("n")).union(e.select(col("v")))
          .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        val tot = deg.agg(count(lit(1)).as("n_nodes_total"))
        deg.select((length(bin(col("deg"))) - 1).cast("long").as("bucket"),
            col("deg"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
            max(col("deg")).as("max_deg"), sum(col("deg")).as("sum_deg"))
          .crossJoin(broadcast(tot))
          .select(col("bucket"), col("n_nodes"), col("min_deg"),
            col("max_deg"), col("sum_deg"),
            expr("n_nodes * 10000 div n_nodes_total").as("share_x1e4"))
          .orderBy("bucket")
      },
      Some("""WITH pairs AS MATERIALIZED (
             |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
             |      FROM pairs a JOIN pairs b
             |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2 HAVING count(*) >= 2),
             |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM
             |  (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes_total FROM deg),
             |b AS (
             |  SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
             |    CAST(count(*) AS BIGINT) AS n_nodes,
             |    min(deg) AS min_deg, max(deg) AS max_deg,
             |    CAST(sum(deg) AS BIGINT) AS sum_deg
             |  FROM deg GROUP BY 1)
             |SELECT bucket, n_nodes, min_deg, max_deg, sum_deg,
             |  n_nodes * 10000 // n_nodes_total AS share_x1e4
             |FROM b CROSS JOIN tot ORDER BY bucket""".stripMargin),
      needs = Seq(coocEdgeTable)),

    // A23: Benford first-digit audit — the forensic data-quality check a
    // warehouse runs over a monetary fact column (fabricated or
    // systematically-generated amounts break Benford's log distribution;
    // auditors and DQ monitors both ship this beside p11's structural
    // checks). The first digit is the leading character of the EXACT
    // cents integer rendered as a string — no log10, no division chain,
    // identical in both engines — and the expected Benford shares are
    // the nine integer literals floor(log10(1+1/d)*1e4), so observed
    // share, expectation, and deviation are all exact longs.
    Q("a23_benford",
      (s, d) => {
        val benford = array(Seq(3010L, 1761L, 1249L, 969L, 792L, 669L,
          580L, 512L, 458L).map(lit): _*)
        val digits = orders(s, d).select(
          substring(round(col("o_totalprice") * 100).cast("long")
            .cast("string"), 1, 1).cast("long").as("d1"))
        val tot = digits.agg(count(lit(1)).as("n_total"))
        digits.groupBy(col("d1")).agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(tot))
          .select(col("d1"), col("n"), col("n_total"),
            expr("n * 10000 div n_total").as("pct_x1e4"),
            element_at(benford, col("d1").cast("int")).as("benford_x1e4"))
          .withColumn("dev_x1e4", abs(col("pct_x1e4") - col("benford_x1e4")))
          .orderBy("d1")
      },
      Some("""WITH digits AS (
             |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
             |    AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS d1
             |  FROM orders
             |), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM digits),
             |g AS (
             |  SELECT d1, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY d1)
             |SELECT d1, n, n_total,
             |  n * 10000 // n_total AS pct_x1e4,
             |  ([3010::BIGINT, 1761, 1249, 969, 792, 669,
             |    580, 512, 458])[d1] AS benford_x1e4,
             |  abs(n * 10000 // n_total
             |    - ([3010::BIGINT, 1761, 1249, 969, 792, 669,
             |       580, 512, 458])[d1]) AS dev_x1e4
             |FROM g CROSS JOIN tot ORDER BY d1""".stripMargin)),

    // U3: SCD2 (slowly-changing-dimension type 2) history build from a
    // change log — each order is a change event to its customer's
    // priority "state"; one lead() window per key turns the log into
    // [valid_from, valid_to) intervals with NULL valid_to marking the
    // current row (NULL, not a 9999 sentinel: sentinel dates overflow
    // downstream ns-precision readers, and NULL is what the interval
    // means). Edges are emitted as epoch-micros BIGINTs: exact integers
    // on both engines, and a NULL long survives the value compare where
    // a NULL timestamp (NaT) is NaT != NaT to any pandas-side reader.
    // Single hash-partitioned window on the natural key — the same plan
    // at any scale; no self-join, no driver state.
    Q("u3_scd2_history",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderpriority").as("state"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("valid_from_us"),
            unix_micros(lead(col("o_orderdate"), 1).over(w)
              .cast("timestamp")).as("valid_to_us"))
          .withColumn("is_current",
            when(col("valid_to_us").isNull, 1).otherwise(0))
          .orderBy(col("o_custkey"), col("valid_from_us"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderpriority AS state,
             |  epoch_us(o_orderdate) AS valid_from_us,
             |  epoch_us(lead(o_orderdate) OVER w) AS valid_to_us,
             |  CASE WHEN lead(o_orderdate) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, valid_from_us, o_orderkey""".stripMargin)),

    // W10: time-series regularization — resample events to a per-user
    // hourly grid (missing hours GENERATED, not skipped) and forward-fill
    // each gap from the last observed hour. The hour id is exact integer
    // arithmetic on the nanos epoch (`div`, never `/`: long/long promotes
    // to double and 1.7e18 ns overflows the 53-bit mantissa — same hazard
    // Tables.eventTime documents). The grid is sequence()+explode per
    // user (each user's own [min,max] span, so one dense global calendar
    // is never materialized), the fill is one running last(ignoreNulls)
    // window per user — both shuffle once on user_id and scale linearly
    // in grid rows. Emitted per-user so the output is the rollup the
    // fill feeds at 100 TB, not the 100x-larger filled series itself.
    Q("w10_gap_fill",
      (s, d) => {
        // The aggregate feeds BOTH the grid derivation and the grid-back
        // join (a diamond) — and exchange-reuse canNOT dedup it here:
        // column pruning rewrites the grid branch's aggregate WITHOUT
        // sv, so the two subtrees diverge and each re-scans events
        // (verified in the executed plan). The single-computation shape
        // for a diverging diamond is the d5/g4 one: MATERIALIZE the
        // hourly aggregate once to scratch parquet and read it for both
        // consumers — the events scan and the heavy aggregate run
        // exactly once (PlanSpec pins the single events scan), and at
        // 100 TB the materialized hourly table is ~1/avg-events-per-
        // hour the size of the input.
        val hourly = Sources.checkpoint(events(s, d)
          .groupBy(col("user_id"),
            expr("ts div 3600000000000").as("h"))
          .agg(round(sum(col("value")), 2).as("sv")),
          graft.Scratch.dir(s, "w10_hourly"))
        val grid = hourly.groupBy(col("user_id"))
          .agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
          .select(col("user_id").as("g_user"),
            explode(sequence(col("mn"), col("mx"))).as("g_h"))
        val w = Window.partitionBy(col("g_user")).orderBy(col("g_h"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(hourly,
            col("g_user") === col("user_id") && col("g_h") === col("h"),
            "left")
          .select(col("g_user"), col("g_h"), col("sv"))
          .withColumn("sv_ff", last(col("sv"), ignoreNulls = true).over(w))
          .groupBy(col("g_user").as("user_id"))
          .agg(count(lit(1)).as("n_hours"),
            count(col("sv")).as("n_observed"),
            round(sum(col("sv_ff")), 2).as("filled_total"))
          .orderBy(col("user_id"))
      },
      Some("""WITH hourly AS (
             |  SELECT user_id, epoch_ns(ts) // 3600000000000 AS h,
             |         round(sum(value), 2) AS sv
             |  FROM events GROUP BY 1, 2),
             |grid AS (
             |  SELECT user_id AS g_user, unnest(generate_series(min(h), max(h))) AS g_h
             |  FROM hourly GROUP BY user_id),
             |filled AS (
             |  SELECT g.g_user, g.g_h, hv.sv,
             |    last_value(hv.sv IGNORE NULLS) OVER (
             |      PARTITION BY g.g_user ORDER BY g.g_h
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sv_ff
             |  FROM grid g LEFT JOIN hourly hv
             |    ON g.g_user = hv.user_id AND g.g_h = hv.h)
             |SELECT g_user AS user_id, count(*) AS n_hours,
             |  count(sv) AS n_observed, round(sum(sv_ff), 2) AS filled_total
             |FROM filled GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // W12: rolling EXACT median over a trailing row frame — the robust
    // smoother where w8's trailing mean is outlier-poisoned (one fat-
    // fingered reading drags a mean for the whole frame; the median
    // shrugs). Median is LOWER median (sorted[(n+1) div 2], 1-indexed) on
    // integer cents, so no even-count averaging ever touches a float and
    // both engines pick the identical element. The frame is 5 rows, so
    // the per-row sort is O(1) and window state is bounded by the frame,
    // not the key's history; partitioning is per event_type here (data
    // shape — w7's convention), per entity key in a real deployment.
    Q("w12_rolling_median",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(-4, Window.currentRow)
        events(s, d)
          .select(col("event_id"), col("event_type"), col("ts"),
            round(col("value") * 100).cast("long").as("cents"))
          .withColumn("arr", sort_array(collect_list(col("cents")).over(w)))
          .select(col("event_id"), col("event_type"), col("cents"),
            size(col("arr")).cast("long").as("n_in_frame"),
            element_at(col("arr"), expr("(size(arr) + 1) div 2").cast("int"))
              .as("med_cents"))
          .orderBy("event_id")
      },
      Some("""WITH b AS (
             |  SELECT event_id, event_type, epoch_ns(ts) AS tns,
             |    CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events
             |), f AS (
             |  SELECT event_id, event_type, cents,
             |    list_sort(list(cents) OVER (
             |      PARTITION BY event_type ORDER BY tns, event_id
             |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS arr
             |  FROM b
             |)
             |SELECT event_id, event_type, cents,
             |  CAST(len(arr) AS BIGINT) AS n_in_frame,
             |  arr[(len(arr) + 1) // 2] AS med_cents
             |FROM f ORDER BY event_id""".stripMargin)),

    // A16: per-key anomaly detection — z-score each event against ITS
    // USER's mean/stddev and count |z| >= 2 outliers per user. Two
    // passes over events (stats agg, then a broadcast-able join back);
    // at 100 TB the stats side is tiny (one row per user) so the join
    // broadcasts and the only shuffle is the stats groupBy.
    //
    // REGENERATION-PROOF decision rule: avg()/stddev_samp() sum in
    // engine-specific order, so their raw outputs can differ in the
    // last ulps between Spark and DuckDB — and on one testdata
    // regeneration a z landed inside that disagreement band and
    // flipped the flag. Instead BOTH engines derive mu and sd from
    // the SAME three exact-ified inputs per user: n = count,
    // s1 = round(sum(value), 6), s2 = round(sum(value*value), 6).
    // The 6-dp rounding absorbs summation-order noise (relative
    // ~1e-10 at these magnitudes); from identical (n, s1, s2) the
    // downstream -, *, /, sqrt are all correctly-rounded IEEE-754
    // double ops, so mu, sd, and every z are BIT-IDENTICAL across
    // engines and the |z| >= 2 comparison cannot disagree — no
    // margin needed, on any data.
    //
    // ORACLE TYPE: DuckDB widens integer sum() to HUGEINT (int128),
    // which serializes as a different dtype than Spark's BIGINT even
    // when every value is identical — hence the explicit CAST(... AS
    // BIGINT) on n_anomalies (the a20_ab_welch discipline; see
    // OracleTypeGuardSpec for the registry-wide ban).
    Q("a16_zscore_anomaly",
      (s, d) => {
        val stats = events(s, d).groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 6).as("s1"),
            round(sum(col("value") * col("value")), 6).as("s2"))
          .filter(col("n") > 1)
          .withColumn("mu", col("s1") / col("n"))
          .withColumn("variance",
            (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
          .filter(col("variance") > 0)
          .withColumn("sd", sqrt(col("variance")))
          .select(col("user_id").as("s_user"), col("mu"), col("sd"))
        events(s, d)
          .join(broadcast(stats), col("user_id") === col("s_user"))
          .withColumn("z", (col("value") - col("mu")) / col("sd"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(when(abs(col("z")) >= 2, 1).otherwise(0)).as("n_anomalies"))
          .orderBy(col("user_id"))
      },
      Some("""WITH sums AS (
             |  SELECT user_id, count(*) AS n,
             |         round(sum(value), 6) AS s1,
             |         round(sum(value * value), 6) AS s2
             |  FROM events GROUP BY 1),
             |stats AS (
             |  SELECT user_id, s1 / n AS mu,
             |         sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sd
             |  FROM sums
             |  WHERE n > 1 AND (s2 - s1 * s1 / n) / (n - 1) > 0),
             |z AS (
             |  SELECT e.user_id, (e.value - s.mu) / s.sd AS z
             |  FROM events e JOIN stats s ON e.user_id = s.user_id)
             |SELECT user_id, count(*) AS n_events,
             |  CAST(sum(CASE WHEN abs(z) >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_anomalies
             |FROM z GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // A20: A/B experiment readout — Welch's t statistic per experiment
    // (event_type) between two deterministic arms (user_id parity: the
    // c2 hash-split idiom, so assignment is reproducible and
    // user-sticky). The decision discipline is a16's, applied to a TWO-
    // sample statistic: both engines derive each arm's mu and variance
    // from the same exact-ified (n, round(s1,6), round(s2,6)) triple,
    // and from identical inputs the -, *, /, sqrt chain is correctly-
    // rounded IEEE — t is bit-identical, so round(t*1e4) and the
    // |t| >= 1.96 significance flag cannot disagree on any
    // regeneration. Shape: one partial-combining aggregate to 2 rows
    // per experiment, then a 5-row self-join — nothing here grows with
    // data volume except the one aggregate scan.
    Q("a20_ab_welch",
      (s, d) => {
        val sums = events(s, d)
          .groupBy(col("event_type"), (col("user_id") % 2).as("arm"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 6).as("s1"),
            round(sum(col("value") * col("value")), 6).as("s2"))
          .filter(col("n") > 1)
          .withColumn("mu", col("s1") / col("n"))
          .withColumn("v",
            (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
          .filter(col("v") > 0)
        val a = sums.filter(col("arm") === 0)
          .select(col("event_type"), col("n").as("n_a"),
            col("mu").as("mu_a"), col("v").as("v_a"))
        val b = sums.filter(col("arm") === 1)
          .select(col("event_type").as("et_b"), col("n").as("n_b"),
            col("mu").as("mu_b"), col("v").as("v_b"))
        a.join(b, col("event_type") === col("et_b"))
          .withColumn("t",
            (col("mu_a") - col("mu_b"))
              / sqrt(col("v_a") / col("n_a") + col("v_b") / col("n_b")))
          .select(col("event_type"), col("n_a"), col("n_b"),
            round(col("t") * 10000).cast("long").as("t_x1e4"),
            (abs(col("t")) >= 1.96).cast("int").as("significant"))
          .orderBy("event_type")
      },
      Some("""WITH sums AS (
             |  SELECT event_type, user_id % 2 AS arm, count(*) AS n,
             |    round(sum(value), 6) AS s1,
             |    round(sum(value * value), 6) AS s2
             |  FROM events GROUP BY 1, 2
             |), st AS (
             |  SELECT event_type, arm, n, s1 / n AS mu,
             |    (s2 - s1 * s1 / n) / (n - 1) AS v
             |  FROM sums
             |  WHERE n > 1 AND (s2 - s1 * s1 / n) / (n - 1) > 0
             |), j AS (
             |  SELECT a.event_type, a.n AS n_a, b.n AS n_b,
             |    (a.mu - b.mu) / sqrt(a.v / a.n + b.v / b.n) AS t
             |  FROM st a JOIN st b
             |    ON a.event_type = b.event_type AND a.arm = 0 AND b.arm = 1
             |)
             |SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
             |  CAST(n_b AS BIGINT) AS n_b,
             |  CAST(round(t * 10000) AS BIGINT) AS t_x1e4,
             |  CAST(abs(t) >= 1.96 AS INT) AS significant
             |FROM j ORDER BY event_type""".stripMargin)),

    // A21: CUSUM change-point detection per key — the drift monitor
    // beside a16's outlier flags (a16 catches single spikes; CUSUM
    // catches a sustained small SHIFT in the mean long before any
    // single point is anomalous). Recurrence s_i = max(0, s_{i-1} +
    // (x_i - mu - slack)) over the time-ordered series — an ordered
    // fold (w11/w13's class), made INTEGER throughout: multiplying the
    // recurrence by 100n (cents, and n clears the mean's division)
    // gives d_i = n*c_i - sum_cents - 50n and S_i = max(0, S_{i-1} +
    // d_i) in exact longs, so neither the fold nor the breach ever
    // touches a float. This is stricter than the first cut of this
    // query, which folded doubles and emitted round(mx, 4): the inputs
    // were bit-identical but an arbitrary real has NO margin at the
    // rounding boundary, and the two engines' round() implementations
    // (BigDecimal-exact vs scaled-multiply) disagreed by 1e-4 on one
    // sf0.1 row — the emit-grain analog of the a16 lesson. The
    // accumulator is a LIST in the oracle (the w13 finding: DuckDB
    // mutates struct accumulators in place) seeded by PREPENDING the
    // natural zero state, so the lambda treats every element uniformly.
    // Output unit: cents*n (exact); breach mx/(100n) >= 3 is the
    // integer comparison S >= 300n.
    Q("a21_cusum",
      (s, d) => {
        val cents = events(s, d).select(col("user_id"), col("ts"),
          col("event_id"), round(col("value") * 100).cast("long").as("c"))
        val stats = cents.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
          .filter(col("n") > 1)
          .select(col("user_id").as("s_user"), col("n"), col("sc"))
        val fold = (acc: org.apache.spark.sql.Column,
            x: org.apache.spark.sql.Column) => {
          val sNew = greatest(lit(0L),
            acc.getField("s")
              + (col("n") * x - col("sc") - lit(50L) * col("n")))
          struct(sNew.as("s"), greatest(acc.getField("mx"), sNew).as("mx"))
        }
        cents
          .join(broadcast(stats), col("user_id") === col("s_user"))
          .groupBy(col("user_id"), col("n"), col("sc"))
          .agg(sort_array(collect_list(struct(
            col("ts"), col("event_id"), col("c")))).as("xs"))
          .select(col("user_id"), col("n").as("n_events"),
            aggregate(
              transform(col("xs"), x => x.getField("c")),
              struct(lit(0L).as("s"), lit(0L).as("mx")),
              fold).getField("mx").as("mx"))
          .select(col("user_id"), col("n_events"),
            col("mx").as("cusum_max_centsxn"),
            (col("mx") >= lit(300L) * col("n_events")).cast("int").as("shifted"))
          .orderBy("user_id")
      },
      Some("""WITH cents AS (
             |  SELECT user_id, epoch_ns(ts) AS tns, event_id,
             |    CAST(round(value * 100) AS BIGINT) AS c
             |  FROM events
             |), stats AS (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(c) AS BIGINT) AS sc
             |  FROM cents GROUP BY 1 HAVING count(*) > 1
             |), series AS (
             |  SELECT ce.user_id, st.n, st.sc,
             |    list(ce.c ORDER BY ce.tns, ce.event_id) AS xs
             |  FROM cents ce JOIN stats st ON ce.user_id = st.user_id
             |  GROUP BY ce.user_id, st.n, st.sc
             |), folded AS (
             |  SELECT user_id, n AS n_events,
             |    list_reduce(
             |      [[0::BIGINT, 0::BIGINT]] || [[c, 0::BIGINT] for c in xs],
             |      (acc, e) -> [
             |        greatest(0::BIGINT, acc[1] + (n * e[1] - sc - 50 * n)),
             |        greatest(acc[2],
             |          greatest(0::BIGINT,
             |            acc[1] + (n * e[1] - sc - 50 * n)))])[2] AS mx
             |  FROM series
             |)
             |SELECT user_id, n_events, mx AS cusum_max_centsxn,
             |  CAST(mx >= 300 * n_events AS INT) AS shifted
             |FROM folded ORDER BY user_id""".stripMargin)),

    // A22: Gini concentration audit — the inequality coefficient a
    // curation pipeline computes over per-source token mass (and a
    // warehouse over per-customer spend) to answer "is this corpus/market
    // dominated by a few heavy keys?" — the diversity gate beside c6's
    // hard domain cap. Exact integer Gini: spend in exact cents, within-
    // group rank by (cents, custkey) total tie-break on a PARTITIONED
    // window, then the rank-sum identity G = (2*S1 - (n+1)*S0) / (n*S0)
    // scaled x1e4 in one integer division — both engines compute the
    // identical longs, no float anywhere past the cents conversion.
    // 64-bit headroom: S1 <= n^2 * max_cents ~ 2e13 at sf0.1, x1e4 =
    // 2e17, 46x under Long.Max; the multiplier is the documented scale
    // lever when group sizes grow 100x. One broadcast dim join + one
    // windowed rank per group + one partial agg — no global sort, no
    // driver state.
    Q("a22_gini",
      (s, d) => {
        val spend = orders(s, d)
          .select(col("o_custkey"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .groupBy(col("o_custkey")).agg(sum(col("cents")).as("cents"))
          .join(broadcast(customer(s, d)
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
        val ranked = spend.withColumn("rk",
          row_number().over(Window.partitionBy(col("c_nationkey"))
            .orderBy(col("cents"), col("o_custkey"))).cast("long"))
        ranked.groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("s0"),
            sum(col("rk") * col("cents")).as("s1"))
          .join(broadcast(nation(s, d)
            .select(col("n_nationkey"), col("n_name"))),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_nationkey"), col("n_name"),
            col("n").as("n_customers"), col("s0").as("total_cents"),
            expr("(2 * s1 - (n + 1) * s0) * 10000 div (n * s0)")
              .as("gini_x1e4"))
          .orderBy("n_nationkey")
      },
      Some("""WITH spend AS (
             |  SELECT c.c_nationkey AS nk, c.c_custkey AS ck,
             |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS cents
             |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             |  GROUP BY 1, 2
             |), r AS (
             |  SELECT nk, ck, cents,
             |    CAST(row_number() OVER (PARTITION BY nk
             |      ORDER BY cents, ck) AS BIGINT) AS rk
             |  FROM spend
             |), agg AS (
             |  SELECT nk, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(cents) AS BIGINT) AS s0,
             |    CAST(sum(rk * cents) AS BIGINT) AS s1
             |  FROM r GROUP BY nk
             |)
             |SELECT a.nk AS n_nationkey, n.n_name,
             |  a.n AS n_customers, a.s0 AS total_cents,
             |  (2 * s1 - (n + 1) * s0) * 10000 // (n * s0) AS gini_x1e4
             |FROM agg a JOIN nation n ON a.nk = n.n_nationkey
             |ORDER BY n_nationkey""".stripMargin)),

    // G4: label propagation (community detection) — the third classic on
    // the co-occurrence graph after PageRank (g2) and connected
    // components (d7). Synchronous LPA: every node starts as its own
    // label; each round it adopts the most frequent label among its
    // neighbors, ties broken by the SMALLEST label (without a total
    // tie-break sync-LPA is nondeterministic — this pins it, and the
    // oracle unrolls the same three rounds as chained CTEs). Per round:
    // one shuffle join (labels onto edge endpoints) + one partial-agg
    // count + a struct-min argmax — all partial-aggregable; each round
    // MATERIALIZES to scratch parquet like g2, so lineage stays O(1)
    // and a 20-round production run plans each round identically.
    Q("g4_label_prop",
      (s, d) => lpaLabels(s, d, "g4").orderBy(col("node")),
      Some("""WITH pairs AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
             |      FROM pairs a JOIN pairs b
             |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2 HAVING count(*) >= 2),
             |nb AS (SELECT u AS node, v AS nbr FROM e
             |       UNION ALL SELECT v, u FROM e),
             |l0 AS (SELECT DISTINCT node, node AS label FROM nb),
             |l1 AS (SELECT node, label FROM (
             |  SELECT nb.node, l.label,
             |    row_number() OVER (PARTITION BY nb.node
             |      ORDER BY count(*) DESC, l.label) AS rn
             |  FROM nb JOIN l0 l ON nb.nbr = l.node GROUP BY nb.node, l.label)
             |  WHERE rn = 1),
             |l2 AS (SELECT node, label FROM (
             |  SELECT nb.node, l.label,
             |    row_number() OVER (PARTITION BY nb.node
             |      ORDER BY count(*) DESC, l.label) AS rn
             |  FROM nb JOIN l1 l ON nb.nbr = l.node GROUP BY nb.node, l.label)
             |  WHERE rn = 1),
             |l3 AS (SELECT node, label FROM (
             |  SELECT nb.node, l.label,
             |    row_number() OVER (PARTITION BY nb.node
             |      ORDER BY count(*) DESC, l.label) AS rn
             |  FROM nb JOIN l2 l ON nb.nbr = l.node GROUP BY nb.node, l.label)
             |  WHERE rn = 1)
             |SELECT node, label FROM l3 ORDER BY node""".stripMargin),
      needs = Seq(coocEdgeTable)),

    // G11: modularity of the LPA communities — the quality score that
    // tells you whether g4's labels MEAN anything (Newman-Girvan Q: how
    // much denser inside communities than a degree-preserving random
    // rewiring). Shares g4's exact 3-round LPA operator (lpaLabels);
    // the rollup is pure integer rationals — per community, coverage
    // e_in/m and expectation (d_c/2m)^2 are emitted x1e6 through single
    // non-negative integer divisions, and the community's contribution
    // is their difference — so a float-free modularity both engines
    // compute identically. Plan: two label joins onto the edge list +
    // three partial-combining aggregates; the one-row edge total rides
    // the reviewed broadcast-scalar idiom. 64-bit headroom: d_sum^2 *
    // 1e6 <= 4m^2 * 1e6 — fine to ~1e6 edges per run; the multiplier is
    // the documented lever beyond that (a22's rule).
    Q("g11_modularity",
      (s, d) => {
        val e = coocEdges(s, d)
        val lab = lpaLabels(s, d, "g11")
        val el = e
          .join(lab.select(col("node").as("u"), col("label").as("cu")),
            Seq("u"))
          .join(lab.select(col("node").as("v"), col("label").as("cv")),
            Seq("v"))
        val mrow = el.agg(count(lit(1)).as("m"))
        val ein = el.filter(col("cu") === col("cv"))
          .groupBy(col("cu")).agg(count(lit(1)).as("e_in"))
          .select(col("cu").as("label"), col("e_in"))
        val deg = e.select(col("u").as("n")).union(e.select(col("v")))
          .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        val comm = lab.join(deg, col("node") === col("n"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_sum"))
        comm.join(ein, Seq("label"), "left")
          .crossJoin(broadcast(mrow))
          .select(col("label"), col("n_nodes"),
            coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_sum"),
            col("m"),
            expr("coalesce(e_in, 0) * 1000000 div m").as("cover_x1e6"),
            expr("d_sum * d_sum * 1000000 div (4 * m * m)")
              .as("expect_x1e6"))
          .withColumn("contrib_x1e6",
            col("cover_x1e6") - col("expect_x1e6"))
          .orderBy("label")
      },
      Some("""WITH pairs AS MATERIALIZED (
             |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
             |      FROM pairs a JOIN pairs b
             |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2 HAVING count(*) >= 2),
             |nb AS MATERIALIZED (SELECT u AS node, v AS nbr FROM e
             |       UNION ALL SELECT v, u FROM e),
             |l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM nb),
             |l1 AS MATERIALIZED (SELECT node, label FROM (
             |  SELECT nb.node, l.label,
             |    row_number() OVER (PARTITION BY nb.node
             |      ORDER BY count(*) DESC, l.label) AS rn
             |  FROM nb JOIN l0 l ON nb.nbr = l.node GROUP BY nb.node, l.label)
             |  WHERE rn = 1),
             |l2 AS MATERIALIZED (SELECT node, label FROM (
             |  SELECT nb.node, l.label,
             |    row_number() OVER (PARTITION BY nb.node
             |      ORDER BY count(*) DESC, l.label) AS rn
             |  FROM nb JOIN l1 l ON nb.nbr = l.node GROUP BY nb.node, l.label)
             |  WHERE rn = 1),
             |l3 AS MATERIALIZED (SELECT node, label FROM (
             |  SELECT nb.node, l.label,
             |    row_number() OVER (PARTITION BY nb.node
             |      ORDER BY count(*) DESC, l.label) AS rn
             |  FROM nb JOIN l2 l ON nb.nbr = l.node GROUP BY nb.node, l.label)
             |  WHERE rn = 1),
             |el AS MATERIALIZED (
             |  SELECT e.u, e.v, lu.label AS cu, lv.label AS cv
             |  FROM e JOIN l3 lu ON e.u = lu.node
             |  JOIN l3 lv ON e.v = lv.node),
             |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM el),
             |ein AS (SELECT cu AS label, CAST(count(*) AS BIGINT) AS e_in
             |        FROM el WHERE cu = cv GROUP BY cu),
             |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM
             |  (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
             |comm AS (
             |  SELECT l3.label, CAST(count(*) AS BIGINT) AS n_nodes,
             |    CAST(sum(deg.deg) AS BIGINT) AS d_sum
             |  FROM l3 JOIN deg ON l3.node = deg.n GROUP BY l3.label)
             |SELECT c.label, c.n_nodes,
             |  coalesce(ein.e_in, 0) AS e_in, c.d_sum, mm.m,
             |  coalesce(ein.e_in, 0) * 1000000 // mm.m AS cover_x1e6,
             |  c.d_sum * c.d_sum * 1000000 // (4 * mm.m * mm.m)
             |    AS expect_x1e6,
             |  coalesce(ein.e_in, 0) * 1000000 // mm.m
             |    - c.d_sum * c.d_sum * 1000000 // (4 * mm.m * mm.m)
             |    AS contrib_x1e6
             |FROM comm c LEFT JOIN ein USING (label) CROSS JOIN mm
             |ORDER BY label""".stripMargin),
      needs = Seq(coocEdgeTable)),

    // W11: per-key EWMA (exponentially weighted moving average) — the
    // recurrence class (y_t = a*x_t + (1-a)*y_{t-1}) that window
    // functions CANNOT express: each value depends on the previous
    // OUTPUT, not a previous input. The distributed shape is one
    // groupBy shuffle, then a per-key ordered fold: collect the key's
    // series (bounded by per-key cardinality — the same contract as
    // A1's ordered collect_list), sort it, fold left. Both engines run
    // the IDENTICAL sequential fold over the identical order, so the
    // doubles are bit-equal before the output round. Seed = first
    // element (DuckDB's list_reduce seeds the same way).
    Q("w11_ewma",
      (s, d) => {
        events(s, d)
          .groupBy(col("user_id"))
          .agg(sort_array(collect_list(struct(
            col("ts"), col("event_id"), col("value")))).as("xs"))
          .select(col("user_id"), size(col("xs")).as("n_events"),
            round(aggregate(
              transform(col("xs"), x => x.getField("value")),
              lit(null).cast("double"),
              (acc, x) => coalesce(acc * lit(0.8) + lit(0.2) * x, x)),
              4).as("ewma"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, CAST(len(xs) AS INT) AS n_events,
             |  round(list_reduce(xs, (acc, x) -> 0.8 * acc + 0.2 * x), 4) AS ewma
             |FROM (
             |  SELECT user_id, list(value ORDER BY ts, event_id) AS xs
             |  FROM events GROUP BY user_id)
             |ORDER BY user_id""".stripMargin)),

    // W14: forecast backtest harness (naive vs seasonal-naive) — the
    // eval companion the w11/w13 smoothers need before anyone trusts a
    // forecast number: score a model AGAINST the two standard baselines
    // on the same held-out tail or the metric means nothing (m13's
    // popularity-anchor logic applied to time series). Per key: naive
    // forecast = previous value, seasonal-naive = value one period back
    // (period 3), MAE over every row where BOTH baselines exist. Exact
    // integer cents end-to-end — two lag frames over ONE partitioned
    // sort (merge-streams shape, j15's discipline), absolute errors and
    // the floored mean in longs, so the comparison flag is
    // integer-decided on any data. One user_id shuffle total; the same
    // plan at any scale.
    Q("w14_backtest",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            round(col("value") * 100).cast("long").as("c"))
          .select(col("user_id"), col("c"),
            lag(col("c"), 1).over(w).as("f_naive"),
            lag(col("c"), 3).over(w).as("f_snaive"))
          .filter(col("f_snaive").isNotNull)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_eval"),
            sum(abs(col("c") - col("f_naive"))).as("ae_naive"),
            sum(abs(col("c") - col("f_snaive"))).as("ae_snaive"))
          .select(col("user_id"), col("n_eval"),
            expr("ae_naive div n_eval").as("mae_naive_cents"),
            expr("ae_snaive div n_eval").as("mae_snaive_cents"),
            (col("ae_snaive") < col("ae_naive")).cast("int")
              .as("snaive_better"))
          .orderBy("user_id")
      },
      Some("""WITH cents AS (
             |  SELECT user_id, epoch_ns(ts) AS tns, event_id,
             |    CAST(round(value * 100) AS BIGINT) AS c
             |  FROM events
             |), f AS (
             |  SELECT user_id, c,
             |    lag(c, 1) OVER (PARTITION BY user_id
             |      ORDER BY tns, event_id) AS f_naive,
             |    lag(c, 3) OVER (PARTITION BY user_id
             |      ORDER BY tns, event_id) AS f_snaive
             |  FROM cents
             |)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_eval,
             |  CAST(sum(abs(c - f_naive)) AS BIGINT) // count(*)
             |    AS mae_naive_cents,
             |  CAST(sum(abs(c - f_snaive)) AS BIGINT) // count(*)
             |    AS mae_snaive_cents,
             |  CAST(CAST(sum(abs(c - f_snaive)) AS BIGINT)
             |    < CAST(sum(abs(c - f_naive)) AS BIGINT) AS INT)
             |    AS snaive_better
             |FROM f WHERE f_snaive IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // W13: Holt double-exponential smoothing (level + trend) — the
    // forecasting recurrence one step past w11's EWMA: the state is a
    // (level, trend) PAIR, still inexpressible by window functions, so
    // the same ordered-collect + sequential fold shape applies with a
    // struct accumulator. Seeds: l=x1, t=0. Smoothing constants are
    // 0.5 / 0.25 — chosen EXACTLY representable in binary so the only
    // cross-engine question is op order, which both lambdas state
    // identically (w11's BitPinned fold discipline; the oracle's
    // duplicated l_new subexpression is IEEE-deterministic). Emits the
    // one-step-ahead forecast level + trend. Per-user state is one
    // struct; the fold is map-side after one user_id shuffle.
    Q("w13_holt",
      (s, d) => {
        val fold = (acc: org.apache.spark.sql.Column,
            x: org.apache.spark.sql.Column) => {
          val lPrev = acc.getField("l")
          val tPrev = acc.getField("t")
          val lNew = lit(0.5) * x + lit(0.5) * (lPrev + tPrev)
          val tNew = lit(0.25) * (lNew - lPrev) + lit(0.75) * tPrev
          when(lPrev.isNull,
            struct(x.as("l"), lit(0.0).as("t")))
            .otherwise(struct(lNew.as("l"), tNew.as("t")))
        }
        events(s, d)
          .groupBy(col("user_id"))
          .agg(sort_array(collect_list(struct(
            col("ts"), col("event_id"), col("value")))).as("xs"))
          .select(col("user_id"), size(col("xs")).as("n_events"),
            aggregate(
              transform(col("xs"), x => x.getField("value")),
              struct(lit(null).cast("double").as("l"),
                lit(null).cast("double").as("t")),
              fold).as("st"))
          .select(col("user_id"), col("n_events"),
            round(col("st.l"), 4).as("level"),
            round(col("st.t"), 4).as("trend"),
            round(col("st.l") + col("st.t"), 4).as("forecast"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, CAST(len(xs) AS INT) AS n_events,
             |  round(st[1], 4) AS level, round(st[2], 4) AS trend,
             |  round(st[1] + st[2], 4) AS forecast
             |FROM (
             |  -- The accumulator is a LIST [l, t], NOT a struct: DuckDB's
             |  -- list_reduce mutates a struct accumulator IN PLACE field by
             |  -- field, so a struct 't' formula reads the already-updated
             |  -- 'l' (measured: [10,12,14] gives t=0.390625 instead of
             |  -- 0.59375; nesting the struct does not help). List
             |  -- accumulators evaluate against the unmodified previous
             |  -- state. Seeding: list_reduce seeds with the first element
             |  -- [x1, 0.0] — exactly the Spark fold's first-step state —
             |  -- and a one-event series returns it untouched (trend 0.0).
             |  SELECT user_id, xs,
             |    list_reduce(
             |      [[CAST(x AS DOUBLE), 0.0::DOUBLE] for x in xs],
             |      (acc, e) ->
             |        [0.5::DOUBLE * e[1] + 0.5::DOUBLE * (acc[1] + acc[2]),
             |         0.25::DOUBLE * ((0.5::DOUBLE * e[1]
             |           + 0.5::DOUBLE * (acc[1] + acc[2])) - acc[1])
             |           + 0.75::DOUBLE * acc[2]]) AS st
             |  FROM (
             |    SELECT user_id, list(value ORDER BY ts, event_id) AS xs
             |    FROM events GROUP BY user_id)
             |) ORDER BY user_id""".stripMargin)),

    // W15: additive Holt-Winters (level + trend + period-4 seasonality) —
    // w13's recurrence grown the third state component: s_{t-m} is
    // subtracted before the level update and refreshed after it, so the
    // accumulator is a (l, t, s0..s3) STRUCT whose seasonal slots ROTATE
    // each step (head = the slot the next step consumes). Same scale
    // shape as w11/w13: one user_id shuffle, then a map-side ordered
    // fold; constants 0.5/0.25/0.75 are binary-exact so cross-engine
    // equality is purely op order, which the Spark fold and the DuckDB
    // list_reduce state ELEMENT-BY-ELEMENT in the same sequence (the
    // oracle inlines the l_new subexpression wherever it is consumed —
    // w13's list-accumulator workaround for DuckDB's in-place struct
    // mutation, carried over). Seed = (x1, 0, zeros): exactly
    // list_reduce's first-element seeding. The one-step forecast adds
    // the rotated head — the seasonal slot of the NEXT period.
    Q("w15_holt_winters",
      (s, d) => {
        val fold = (acc: org.apache.spark.sql.Column,
            x: org.apache.spark.sql.Column) => {
          val lPrev = acc.getField("l")
          val tPrev = acc.getField("t")
          val s0 = acc.getField("s0")
          val lNew = lit(0.5) * (x - s0) + lit(0.5) * (lPrev + tPrev)
          val tNew = lit(0.25) * (lNew - lPrev) + lit(0.75) * tPrev
          val sNew = lit(0.25) * (x - lNew) + lit(0.75) * s0
          when(lPrev.isNull,
            struct(x.as("l"), lit(0.0).as("t"), lit(0.0).as("s0"),
              lit(0.0).as("s1"), lit(0.0).as("s2"), lit(0.0).as("s3")))
            .otherwise(struct(lNew.as("l"), tNew.as("t"),
              acc.getField("s1").as("s0"), acc.getField("s2").as("s1"),
              acc.getField("s3").as("s2"), sNew.as("s3")))
        }
        events(s, d)
          .groupBy(col("user_id"))
          .agg(sort_array(collect_list(struct(
            col("ts"), col("event_id"), col("value")))).as("xs"))
          .select(col("user_id"), size(col("xs")).as("n_events"),
            aggregate(
              transform(col("xs"), x => x.getField("value")),
              struct(lit(null).cast("double").as("l"),
                lit(null).cast("double").as("t"),
                lit(null).cast("double").as("s0"),
                lit(null).cast("double").as("s1"),
                lit(null).cast("double").as("s2"),
                lit(null).cast("double").as("s3")),
              fold).as("st"))
          .select(col("user_id"), col("n_events"),
            round(col("st.l"), 4).as("level"),
            round(col("st.t"), 4).as("trend"),
            round(col("st.s0"), 4).as("season_next"),
            round(col("st.l") + col("st.t") + col("st.s0"), 4).as("forecast"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, CAST(len(xs) AS INT) AS n_events,
             |  round(st[1], 4) AS level, round(st[2], 4) AS trend,
             |  round(st[3], 4) AS season_next,
             |  round(st[1] + st[2] + st[3], 4) AS forecast
             |FROM (
             |  -- list accumulator, not a struct: w13's DuckDB in-place
             |  -- mutation workaround. Layout: [l, t, s0, s1, s2, s3];
             |  -- l_new is inlined at each consumption site so the op
             |  -- order matches the Spark fold exactly.
             |  SELECT user_id, xs,
             |    list_reduce(
             |      [[CAST(x AS DOUBLE), 0.0::DOUBLE, 0.0::DOUBLE,
             |        0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE] for x in xs],
             |      (acc, e) ->
             |        [0.5::DOUBLE * (e[1] - acc[3])
             |           + 0.5::DOUBLE * (acc[1] + acc[2]),
             |         0.25::DOUBLE * ((0.5::DOUBLE * (e[1] - acc[3])
             |             + 0.5::DOUBLE * (acc[1] + acc[2])) - acc[1])
             |           + 0.75::DOUBLE * acc[2],
             |         acc[4], acc[5], acc[6],
             |         0.25::DOUBLE * (e[1] - (0.5::DOUBLE * (e[1] - acc[3])
             |             + 0.5::DOUBLE * (acc[1] + acc[2])))
             |           + 0.75::DOUBLE * acc[3]]) AS st
             |  FROM (
             |    SELECT user_id, list(value ORDER BY ts, event_id) AS xs
             |    FROM events GROUP BY user_id)
             |) ORDER BY user_id""".stripMargin)),

    // G5: k-hop BFS from a seed set — multi-source shortest paths,
    // bounded at 3 hops (the "blast radius" query: what does this seed
    // set reach, and how fast). Per round: one join of the frontier
    // onto the neighbor table + a min aggregate — label-propagation's
    // plan shape with min(dist) instead of argmax(label), and the same
    // loop discipline (neighbor table hoisted and materialized once,
    // per-round scratch checkpoint, O(1) lineage). The oracle unrolls
    // the three relaxation rounds as chained CTEs. Unreached nodes are
    // absent by construction, not NULL-distance rows.
    Q("g5_bfs",
      (s, d) => {
        val e = coocEdges(s, d)
        val nb = Sources.checkpoint(
          e.select(col("u").as("node"), col("v").as("nbr"))
            .union(e.select(col("v"), col("u"))),
          graft.Scratch.dir(s, "g5_nb"))
        var dist = nb.select(col("node")).distinct()
          .filter(col("node") < 100)
          .select(col("node"), lit(0).as("dist"))
        for (round <- 1 to 3) {
          val relaxed = nb
            .join(dist.select(col("node").as("dn"), col("dist")),
              col("nbr") === col("dn"))
            .select(col("node"), (col("dist") + 1).as("dist"))
          val next = dist.unionByName(relaxed)
            .groupBy(col("node")).agg(min(col("dist")).as("dist"))
          dist = Sources.checkpoint(next,
            graft.Scratch.dir(s, s"g5_round$round"))
        }
        dist.orderBy(col("node"))
      },
      Some("""WITH pairs AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
             |      FROM pairs a JOIN pairs b
             |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2 HAVING count(*) >= 2),
             |nb AS (SELECT u AS node, v AS nbr FROM e
             |       UNION ALL SELECT v, u FROM e),
             |d0 AS (SELECT DISTINCT node, 0 AS dist FROM nb WHERE node < 100),
             |d1 AS (SELECT node, min(dist) AS dist FROM (
             |  SELECT node, dist FROM d0
             |  UNION ALL
             |  SELECT nb.node, d.dist + 1 FROM nb JOIN d0 d ON nb.nbr = d.node)
             |  GROUP BY 1),
             |d2 AS (SELECT node, min(dist) AS dist FROM (
             |  SELECT node, dist FROM d1
             |  UNION ALL
             |  SELECT nb.node, d.dist + 1 FROM nb JOIN d1 d ON nb.nbr = d.node)
             |  GROUP BY 1),
             |d3 AS (SELECT node, min(dist) AS dist FROM (
             |  SELECT node, dist FROM d2
             |  UNION ALL
             |  SELECT nb.node, d.dist + 1 FROM nb JOIN d2 d ON nb.nbr = d.node)
             |  GROUP BY 1)
             |SELECT node, dist FROM d3 ORDER BY node""".stripMargin),
      needs = Seq(coocEdgeTable)),

    // G16: harmonic centrality (bounded-hop) — the centrality face g2's
    // PageRank and g9's HITS don't cover: C(s) = Σ_{v≠s} 1/d(s,v),
    // Boldi & Vigna 2014's recommended closeness variant (sums, so
    // disconnected pairs contribute exactly 0 instead of breaking the
    // mean). Multi-source labeled BFS over the seed set (node < 100,
    // g5's contract): state is (seed, node, min-dist), each of the 3
    // bounded hops is one equi-join on the frontier + one
    // partial-combining min-aggregate with per-round scratch
    // materialization (lineage O(1), nothing pinned). Bounded hops IS
    // the production contract — harmonic mass beyond 3 hops is ≤ 1/4
    // per node and a wider radius is the same per-round plan. The
    // emitted centrality is the exact integer Σ 1e6 div dist.
    Q("g16_harmonic_centrality",
      (s, d) => {
        val e = coocEdges(s, d)
        val nb = Sources.checkpoint(
          e.select(col("u").as("node"), col("v").as("nbr"))
            .union(e.select(col("v"), col("u"))),
          graft.Scratch.dir(s, "g16_nb"))
        var dist = nb.select(col("node")).distinct()
          .filter(col("node") < 100)
          .select(col("node").as("seed"), col("node"), lit(0).as("dist"))
        for (round <- 1 to 3) {
          val relaxed = nb
            .join(dist.select(col("seed"), col("node").as("dn"),
              col("dist")), col("nbr") === col("dn"))
            .select(col("seed"), col("node"), (col("dist") + 1).as("dist"))
          val next = dist.unionByName(relaxed)
            .groupBy(col("seed"), col("node"))
            .agg(min(col("dist")).as("dist"))
          dist = Sources.checkpoint(next,
            graft.Scratch.dir(s, s"g16_round$round"))
        }
        dist.filter(col("dist") > 0)
          .groupBy(col("seed"))
          .agg(count(lit(1)).as("n_reached"),
            sum(expr("1000000 div dist")).as("harmonic_x1e6"))
          .orderBy("seed")
      },
      Some("""WITH pairs AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
             |      FROM pairs a JOIN pairs b
             |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2 HAVING count(*) >= 2),
             |nb AS (SELECT u AS node, v AS nbr FROM e
             |       UNION ALL SELECT v, u FROM e),
             |d0 AS MATERIALIZED (
             |  SELECT DISTINCT node AS seed, node, 0 AS dist
             |  FROM nb WHERE node < 100),
             |d1 AS MATERIALIZED (
             |  SELECT seed, node, min(dist) AS dist FROM (
             |    SELECT seed, node, dist FROM d0
             |    UNION ALL
             |    SELECT d.seed, nb.node, d.dist + 1
             |    FROM nb JOIN d0 d ON nb.nbr = d.node) GROUP BY 1, 2),
             |d2 AS MATERIALIZED (
             |  SELECT seed, node, min(dist) AS dist FROM (
             |    SELECT seed, node, dist FROM d1
             |    UNION ALL
             |    SELECT d.seed, nb.node, d.dist + 1
             |    FROM nb JOIN d1 d ON nb.nbr = d.node) GROUP BY 1, 2),
             |d3 AS MATERIALIZED (
             |  SELECT seed, node, min(dist) AS dist FROM (
             |    SELECT seed, node, dist FROM d2
             |    UNION ALL
             |    SELECT d.seed, nb.node, d.dist + 1
             |    FROM nb JOIN d2 d ON nb.nbr = d.node) GROUP BY 1, 2)
             |SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
             |  CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_x1e6
             |FROM d3 WHERE dist > 0
             |GROUP BY seed ORDER BY seed""".stripMargin),
      needs = Seq(coocEdgeTable)),

    // G6: bounded-hop WEIGHTED shortest path (distributed Bellman-Ford) —
    // g5's BFS with a cost model: edge weight = 1000 div co-occurrence
    // count, so strongly-tied parts are "close" (the similarity-distance
    // a recommendation or substitution analysis walks). Weights are
    // INTEGER (1000 div c — exact in both engines; a float -ln(c/max)
    // affinity is a one-line swap), so min() relaxation never crosses a
    // float comparator. Each of the 3 relaxation rounds is one equi-join
    // on the frontier + one partial-combining min-aggregate — the same
    // per-round scratch materialization as g5/g2 keeps lineage O(1) and
    // never pins state in executor memory. Bounded hops IS the production
    // contract at 100 TB (unbounded SSSP iterates to convergence with a
    // frontier-empty check; the per-round plan is identical). Edges come
    // from the same persisted co-occurrence artifact as g3/g4/g5 — the
    // build keeps the count column precisely so the weighted family reads
    // it instead of replaying the pairs self-join (the dominant cost).
    Q("g6_weighted_sssp",
      (s, d) => {
        val e = coocEdgesWeighted(s, d)
          .select(col("u"), col("v"), expr("1000 div c").as("w"))
        val nb = Sources.checkpoint(
          e.select(col("u").as("node"), col("v").as("nbr"), col("w"))
            .union(e.select(col("v"), col("u"), col("w"))),
          graft.Scratch.dir(s, "g6_nb"))
        var dist = nb.select(col("node")).distinct()
          .filter(col("node") < 100)
          .select(col("node"), lit(0L).as("dist"))
        for (round <- 1 to 3) {
          val relaxed = nb
            .join(dist.select(col("node").as("dn"), col("dist")),
              col("nbr") === col("dn"))
            .select(col("node"), (col("dist") + col("w")).as("dist"))
          val next = dist.unionByName(relaxed)
            .groupBy(col("node")).agg(min(col("dist")).as("dist"))
          dist = Sources.checkpoint(next,
            graft.Scratch.dir(s, s"g6_round$round"))
        }
        dist.orderBy(col("node"))
      },
      Some("""WITH pairs AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v,
             |        CAST(1000 // count(*) AS BIGINT) AS w
             |      FROM pairs a JOIN pairs b
             |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2 HAVING count(*) >= 2),
             |nb AS (SELECT u AS node, v AS nbr, w FROM e
             |       UNION ALL SELECT v, u, w FROM e),
             |d0 AS (SELECT DISTINCT node, CAST(0 AS BIGINT) AS dist
             |       FROM nb WHERE node < 100),
             |d1 AS (SELECT node, min(dist) AS dist FROM (
             |  SELECT node, dist FROM d0
             |  UNION ALL
             |  SELECT nb.node, d.dist + nb.w FROM nb JOIN d0 d ON nb.nbr = d.node)
             |  GROUP BY 1),
             |d2 AS (SELECT node, min(dist) AS dist FROM (
             |  SELECT node, dist FROM d1
             |  UNION ALL
             |  SELECT nb.node, d.dist + nb.w FROM nb JOIN d1 d ON nb.nbr = d.node)
             |  GROUP BY 1),
             |d3 AS (SELECT node, min(dist) AS dist FROM (
             |  SELECT node, dist FROM d2
             |  UNION ALL
             |  SELECT nb.node, d.dist + nb.w FROM nb JOIN d2 d ON nb.nbr = d.node)
             |  GROUP BY 1)
             |SELECT node, dist FROM d3 ORDER BY node""".stripMargin),
      needs = Seq(coocEdgeTable)),

    // F1: funnel analysis — ORDERED multi-step conversion: for each user
    // the first "view", the first "click" strictly AFTER that view, and
    // the first "purchase" strictly after that click; stage = how deep
    // the user got. The order constraint is what makes this a distinct
    // op class (a plain groupBy/pivot can't see sequencing). Shape: a
    // chain of filter -> per-user min aggregations, every join and agg
    // keyed on user_id — one partitioning carried through the whole
    // chain, each intermediate one scalar row per user. Stage times are
    // emitted as the canonical nanos longs (NULL survives the compare;
    // NaT doesn't — the u3 lesson).
    Q("f1_funnel",
      (s, d) => {
        // ONE-PASS ordered funnel (round-14 scan census: the original
        // per-stage join chain — first-view frame, click-after-view,
        // purchase-after-click, users spine — re-derived the event scan
        // per stage AND per lineage level, planning SEVEN event scans.
        // The funnel is a sequential per-user recurrence, so it folds
        // exactly like w11: one groupBy shuffle, the user's events
        // sorted in the aggregate, and a left fold carrying (tv, tc,
        // tp) — "first click strictly after the first view" is the
        // first qualifying element in sorted order, which IS min(ts >
        // tv). State is one user's events (A1's bounded-cardinality
        // contract); updates read the PRE-step accumulator, which is
        // equivalent because a row updates at most its own stage.
        events(s, d)
          .groupBy(col("user_id"))
          .agg(sort_array(collect_list(struct(
            col("ts"), col("event_type").as("et")))).as("xs"))
          .select(col("user_id"), expr(
            """aggregate(xs,
              |  named_struct('tv', CAST(NULL AS BIGINT),
              |    'tc', CAST(NULL AS BIGINT), 'tp', CAST(NULL AS BIGINT)),
              |  (a, x) -> named_struct(
              |    'tv', if(a.tv IS NULL AND x.et = 'view', x.ts, a.tv),
              |    'tc', if(a.tc IS NULL AND a.tv IS NOT NULL
              |      AND x.et = 'click' AND x.ts > a.tv, x.ts, a.tc),
              |    'tp', if(a.tp IS NULL AND a.tc IS NOT NULL
              |      AND x.et = 'purchase' AND x.ts > a.tc, x.ts, a.tp)))
              |""".stripMargin).as("f"))
          .select(col("user_id"),
            when(col("f.tp").isNotNull, 3)
              .when(col("f.tc").isNotNull, 2)
              .when(col("f.tv").isNotNull, 1)
              .otherwise(0).as("stage"),
            col("f.tv").as("tv"), col("f.tc").as("tc"),
            col("f.tp").as("tp"))
          .orderBy(col("user_id"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type, epoch_ns(ts) AS ts FROM events),
             |v AS (SELECT user_id, min(ts) AS tv FROM ev
             |      WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, min(e.ts) AS tc
             |      FROM ev e JOIN v USING (user_id)
             |      WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY 1),
             |p AS (SELECT e.user_id, min(e.ts) AS tp
             |      FROM ev e JOIN c USING (user_id)
             |      WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY 1)
             |SELECT u.user_id,
             |  CASE WHEN p.tp IS NOT NULL THEN 3
             |       WHEN c.tc IS NOT NULL THEN 2
             |       WHEN v.tv IS NOT NULL THEN 1 ELSE 0 END AS stage,
             |  v.tv, c.tc, p.tp
             |FROM (SELECT DISTINCT user_id FROM ev) u
             |LEFT JOIN v USING (user_id)
             |LEFT JOIN c USING (user_id)
             |LEFT JOIN p USING (user_id)
             |ORDER BY u.user_id""".stripMargin)),

    // F2: cohort retention — the funnel's longitudinal companion: users
    // cohorted by FIRST-ACTIVE week, then counted per (cohort, week
    // offset) if active that week. Weeks are exact integer arithmetic
    // on the nanos epoch (`div` by 604800e9 — same overflow hazard as
    // the w10 hour grid). Shape: per-user min (cohort assignment), a
    // distinct on (user, week), one user-keyed join, then the matrix
    // aggregate — count(DISTINCT user) per cell is exact because the
    // (user, week) pairs were deduped before the join. Everything keys
    // on user_id until the final small matrix shuffle.
    Q("f2_retention",
      (s, d) => {
        val ev = events(s, d)
          .select(col("user_id"), expr("ts div 604800000000000").as("wk"))
          .distinct()
        val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cw"))
        ev.join(first, "user_id")
          .groupBy(col("cw").as("cohort_week"),
            (col("wk") - col("cw")).as("week_offset"))
          .agg(count_distinct(col("user_id")).as("n_active"))
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      Some("""WITH ev AS (
             |  SELECT DISTINCT user_id,
             |    epoch_ns(ts) // 604800000000000 AS wk
             |  FROM events),
             |first AS (SELECT user_id, min(wk) AS cw FROM ev GROUP BY 1)
             |SELECT f.cw AS cohort_week, e.wk - f.cw AS week_offset,
             |  count(DISTINCT e.user_id) AS n_active
             |FROM ev e JOIN first f USING (user_id)
             |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin)),

    // F3: top event paths — the sequence-mining face of the f block:
    // each user's first five event types in event-time order become a
    // path string, counted across users. Ordered collect per key (the
    // w11/A1 bounded-collect contract), then a tiny path-keyed
    // aggregate; the top-k lowers to TakeOrderedAndProject, never a
    // global sort. Tie-break on the path string keeps the cut
    // deterministic.
    // G7: deterministic random walks over the co-occurrence graph — the
    // sampling primitive under DeepWalk/node2vec-style graph embedding:
    // a corpus of short walks IS the training data the skip-gram stage
    // consumes. Next-hop choice is hash-derived (md5 of
    // walk:id:step:cur — o13's engine-identical-uniform idiom on a
    // categorical draw), so the walk corpus is reproducible run-to-run,
    // engine-portable, and therefore exactly oracled — the property
    // seeded RNG walks can't give you. Shape: the adjacency-list table
    // (node -> sorted neighbor array) is built once from the shared
    // edge artifact; each step is one equi-join of the walk frontier
    // onto it plus a map-side pick — at 100 TB the frontier is
    // (nodes x walks/node) rows of fixed width and the adjacency table
    // is the reused artifact, so cost is steps x one join, never a
    // per-walk driver loop.
    Q("g7_random_walks",
      (s, d) => {
        val e = coocEdgesWeighted(s, d)
        val nb = e.select(col("u").as("node"), col("v").as("nbr"))
          .union(e.select(col("v"), col("u")))
          .groupBy(col("node"))
          .agg(sort_array(collect_list(col("nbr"))).as("ns"))
        var walks = nb.select(col("node")).filter(col("node") < 50)
          .select(col("node").as("walk_id"), col("node").as("cur"),
            col("node").cast("string").as("path"))
        for (step <- 1 to 3) {
          walks = walks.join(nb, col("cur") === col("node"))
            .withColumn("idx",
              (graft.functions.TextFunctions.hash32(
                concat(lit("walk:"), col("walk_id").cast("string"),
                  lit(s":$step:"), col("cur").cast("string")))
                % size(col("ns"))).cast("int"))
            .select(col("walk_id"),
              element_at(col("ns"), col("idx") + 1).as("cur"),
              concat(col("path"), lit("->"),
                element_at(col("ns"), col("idx") + 1).cast("string"))
                .as("path"))
        }
        walks.select(col("walk_id"), col("cur").as("end_node"), col("path"))
          .orderBy("walk_id")
      },
      Some {
        def stepSql(i: Int, prev: String) =
          s"""w$i AS (
             |  SELECT walk_id,
             |    ns[CAST((${sqlH32(s"'walk:' || CAST(walk_id AS VARCHAR) || ':$i:' || CAST(cur AS VARCHAR)")})
             |      % len(ns) AS INT) + 1] AS cur,
             |    path || '->' || CAST(ns[CAST((${sqlH32(s"'walk:' || CAST(walk_id AS VARCHAR) || ':$i:' || CAST(cur AS VARCHAR)")})
             |      % len(ns) AS INT) + 1] AS VARCHAR) AS path
             |  FROM $prev JOIN nbrs ON $prev.cur = nbrs.node
             |)""".stripMargin
        s"""WITH pairs AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
           |      FROM pairs a JOIN pairs b
           |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           |      GROUP BY 1, 2 HAVING count(*) >= 2),
           |nb AS (SELECT u AS node, v AS nbr FROM e
           |       UNION ALL SELECT v, u FROM e),
           |nbrs AS (SELECT node, list(nbr ORDER BY nbr) AS ns
           |         FROM nb GROUP BY node),
           |w0 AS (SELECT node AS walk_id, node AS cur,
           |         CAST(node AS VARCHAR) AS path
           |       FROM nbrs WHERE node < 50),
           |${stepSql(1, "w0")},
           |${stepSql(2, "w1")},
           |${stepSql(3, "w2")}
           |SELECT walk_id, cur AS end_node, path FROM w3
           |ORDER BY walk_id""".stripMargin
      },
      needs = Seq(coocEdgeTable)),

    // F5: RFM segmentation — the classic warehouse customer model
    // (recency / frequency / monetary quartiles, segment code "RFM"):
    // one per-user aggregate (exact nanos recency, counts, exact cents),
    // then three ntile(4) windows over the user table with total
    // tie-break orders so the quartile boundaries are engine-identical
    // (w7's discipline). The windows partition over a constant because
    // the USER TABLE is the windowed set — fine at any scale where the
    // customer dimension fits a partition set; at true web scale the
    // ntile swaps for a15's percentile cut points computed once and
    // joined back (shape documented here, same output contract).
    Q("f5_rfm_segments",
      (s, d) => {
        val byUser = events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(max(col("ts")).as("last_ts"),
            count(lit(1)).as("freq"),
            sum(round(col("value") * 100).cast("long")).as("cents"))
        // TinyWindow: the windowed set is the post-aggregate USER table
        // (one row per purchasing user — bounded by the customer
        // dimension, not the event volume)
        import graft.operators.TinyWindow
        byUser
          .withColumn("r", ntile(4).over(
            TinyWindow.total(col("user_id"))(desc("last_ts"), col("user_id"))))
          .withColumn("f", ntile(4).over(
            TinyWindow.total(col("user_id"))(desc("freq"), col("user_id"))))
          .withColumn("m", ntile(4).over(
            TinyWindow.total(col("user_id"))(desc("cents"), col("user_id"))))
          .select(col("user_id"), col("last_ts"), col("freq"), col("cents"),
            col("r").cast("long").as("r"), col("f").cast("long").as("f"),
            col("m").cast("long").as("m"),
            (col("r") * 100 + col("f") * 10 + col("m")).cast("long")
              .as("segment"))
          .orderBy("user_id")
      },
      Some("""WITH u AS (
             |  SELECT user_id, max(epoch_ns(ts)) AS last_ts,
             |    CAST(count(*) AS BIGINT) AS freq,
             |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |      AS cents
             |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
             |)
             |SELECT user_id, last_ts, freq, cents,
             |  ntile(4) OVER (ORDER BY last_ts DESC, user_id) AS r,
             |  ntile(4) OVER (ORDER BY freq DESC, user_id) AS f,
             |  ntile(4) OVER (ORDER BY cents DESC, user_id) AS m,
             |  ntile(4) OVER (ORDER BY last_ts DESC, user_id) * 100
             |    + ntile(4) OVER (ORDER BY freq DESC, user_id) * 10
             |    + ntile(4) OVER (ORDER BY cents DESC, user_id) AS segment
             |FROM u ORDER BY user_id""".stripMargin)),

    // T20: skip-gram pair extraction over g7's walk corpus — the last
    // data-side step of the DeepWalk pipeline: (center, context)
    // co-occurrence counts with window ±1, the exact table a skip-gram
    // embedding trainer consumes (negative draws happen at training
    // time against the node-frequency table; this op owns the
    // positives). The walks are REGENERATED with g7's identical hash
    // draws (same salt, same arithmetic), so the two queries describe
    // one corpus — and the oracle replays the same unrolled steps
    // carrying the node columns instead of a path string. Shape: the
    // walk unroll is g7's join-per-step; pair extraction is a map-side
    // union of projections; the final count partial-aggregates.
    Q("t20_skipgram_pairs",
      (s, d) => {
        val e = coocEdgesWeighted(s, d)
        val nb = e.select(col("u").as("node"), col("v").as("nbr"))
          .union(e.select(col("v"), col("u")))
          .groupBy(col("node"))
          .agg(sort_array(collect_list(col("nbr"))).as("ns"))
        var walks = nb.select(col("node")).filter(col("node") < 50)
          .select(col("node").as("walk_id"), col("node").as("n0"))
        for (step <- 1 to 3) {
          val cur = s"n${step - 1}"
          walks = walks.join(nb, col(cur) === col("node"))
            .withColumn("idx",
              (graft.functions.TextFunctions.hash32(
                concat(lit("walk:"), col("walk_id").cast("string"),
                  lit(s":$step:"), col(cur).cast("string")))
                % size(col("ns"))).cast("int"))
            .withColumn(s"n$step", element_at(col("ns"), col("idx") + 1))
            .drop("node", "ns", "idx")
        }
        Seq((0, 1), (1, 0), (1, 2), (2, 1), (2, 3), (3, 2))
          .map { case (a, b) =>
            walks.select(col(s"n$a").as("center"), col(s"n$b").as("context"))
          }
          .reduce(_.unionByName(_))
          .groupBy(col("center"), col("context"))
          .agg(count(lit(1)).as("n"))
          .orderBy("center", "context")
      },
      Some {
        def stepSql(i: Int, prev: String) = {
          val cur = s"n${i - 1}"
          val h = sqlH32(
            s"'walk:' || CAST(walk_id AS VARCHAR) || ':$i:' || CAST($cur AS VARCHAR)")
          val kept = (0 until i).map(j => s"n$j").mkString(", ")
          s"""w$i AS (
             |  SELECT walk_id, $kept,
             |    ns[CAST(($h) % len(ns) AS INT) + 1] AS n$i
             |  FROM $prev JOIN nbrs ON $prev.$cur = nbrs.node
             |)""".stripMargin
        }
        s"""WITH pairs AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
           |      FROM pairs a JOIN pairs b
           |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           |      GROUP BY 1, 2 HAVING count(*) >= 2),
           |nb AS (SELECT u AS node, v AS nbr FROM e
           |       UNION ALL SELECT v, u FROM e),
           |nbrs AS (SELECT node, list(nbr ORDER BY nbr) AS ns
           |         FROM nb GROUP BY node),
           |w0 AS (SELECT node AS walk_id, node AS n0
           |       FROM nbrs WHERE node < 50),
           |${stepSql(1, "w0")},
           |${stepSql(2, "w1")},
           |${stepSql(3, "w2")},
           |sg AS (
           |  SELECT n0 AS center, n1 AS context FROM w3
           |  UNION ALL SELECT n1, n0 FROM w3
           |  UNION ALL SELECT n1, n2 FROM w3
           |  UNION ALL SELECT n2, n1 FROM w3
           |  UNION ALL SELECT n2, n3 FROM w3
           |  UNION ALL SELECT n3, n2 FROM w3
           |)
           |SELECT center, context, CAST(count(*) AS BIGINT) AS n
           |FROM sg GROUP BY center, context
           |ORDER BY center, context""".stripMargin
      },
      needs = Seq(coocEdgeTable)),

    // F4: first-order Markov transition matrix over event types — the
    // sequence model behind next-action prediction and funnel-leak
    // analysis (where do users GO after a view?), one step deeper than
    // f3's literal path strings. Per user, consecutive event pairs come
    // from one lead() over the (ts, event_id) order — a single user_id
    // shuffle, state bounded by the window frame; the transition count
    // and the per-source normalizer are partial-combining aggregates.
    // Probabilities are integer-scaled exact (n_pair*10000 div n_from) —
    // no float on the decision path.
    Q("f4_markov_transitions",
      (s, d) => {
        val pairs = events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("to_type", lead(col("event_type"), 1).over(
            Window.partitionBy(col("user_id"))
              .orderBy(col("ts"), col("event_id"))))
          .filter(col("to_type").isNotNull)
          .withColumnRenamed("event_type", "from_type")
        val counts = pairs.groupBy(col("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n_pair"))
        val fromTotals = counts.groupBy(col("from_type"))
          .agg(sum(col("n_pair")).as("n_from"))
        counts.join(fromTotals, Seq("from_type"))
          .select(col("from_type"), col("to_type"), col("n_pair"),
            col("n_from"), expr("n_pair * 10000 div n_from").as("p_x1e4"))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_ns(ts) AS tns, event_id,
             |    event_type AS from_type,
             |    lead(event_type) OVER (
             |      PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
             |      AS to_type
             |  FROM events
             |), c AS (
             |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_pair
             |  FROM ev WHERE to_type IS NOT NULL GROUP BY 1, 2
             |), t AS (
             |  SELECT from_type, CAST(sum(n_pair) AS BIGINT) AS n_from
             |  FROM c GROUP BY 1
             |)
             |SELECT from_type, to_type, n_pair, n_from,
             |  n_pair * 10000 // n_from AS p_x1e4
             |FROM c JOIN t USING (from_type)
             |ORDER BY from_type, to_type""".stripMargin)),

    // F6: Markov stationary distribution — "where does the user journey
    // SETTLE": the long-run occupancy of f4's transition matrix, the
    // number behind 'X% of engaged time ends in state S'. Eight exact-
    // integer power rounds: pi starts uniform at the 1e6 grain and each
    // step sums per-edge terms pi_i * n_pair div n_from — every term an
    // exact integer division, so the sum is order-independent and the
    // iteration is bit-reproducible in both engines (float pi would be
    // the a16 class; the <= |states| mass leak per round is 5e-6 here
    // and reported in-row as mass_x1e6). Scale shape (r17): ONE event-
    // scan builds the transition counts (f4's shuffle), materialized to
    // scratch; totals, the sink padding, and the iteration all re-derive
    // from that |states|²-row parquet, and the 8 power rounds execute as
    // a single-row higher-order fold inside MarkovChain.stationary — no
    // per-round exchange, because the frame is bounded by the schema's
    // state cardinality at any corpus scale (f6's exchange budget fell
    // 37→≤6 with bit-identical output). The oracle
    // unrolls the same 8 rounds as MATERIALIZED CTEs (g8's rule).
    Q("f6_markov_stationary",
      (s, d) => {
        val pairs = events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("to_type", lead(col("event_type"), 1).over(
            Window.partitionBy(col("user_id"))
              .orderBy(col("ts"), col("event_id"))))
          .filter(col("to_type").isNotNull)
          .withColumnRenamed("event_type", "from_type")
        val counts = pairs.groupBy(col("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n_pair"))
        // r17: materialize the TRANSITION COUNTS (the one events-derived
        // frame) instead of the padded table — totals, the padding, and
        // the iteration all re-derive from the |states|²-row parquet, so
        // the events scan + lead-window + aggregate run exactly ONCE per
        // query (the returned plan's totals branch used to replay them:
        // ScanBudget f6 events=1 → 0).
        val countsF = Sources.checkpoint(counts,
          graft.Scratch.dir(s, "f6_counts"))
        val totals = countsF.groupBy(col("from_type"))
          .agg(sum(col("n_pair")).as("n_from"))
        // operators/MarkovChain pads SINK states (appearing only as
        // to_type) with an absorbing self-loop — without it a sink's
        // whole mass vanishes each round, far beyond the floor-leak
        // bound (no sink exists in this data; MarkovChainSpec exercises
        // the path on a synthetic sink-bearing chain). The padded table
        // is ALSO flattened to parquet: stationary's collapsed-row agg is
        // planned once per consumer (pi/prev/mass), and left live the
        // padding's join lineage would replan per consumer (measured
        // 19 exchanges vs 6 flat).
        val trans = Sources.checkpoint(
          graft.operators.MarkovChain.paddedTransitions(countsF),
          graft.Scratch.dir(s, "f6_trans"))
        val (pi, prev) = graft.operators.MarkovChain.stationary(s, trans, 8)
        val mass = pi.agg(sum(col("p_x1e6")).as("mass_x1e6"))
        pi.join(prev.select(col("state"), col("p_x1e6").as("p_prev")),
            Seq("state"))
          // REAL outdegree in the output (0 for a padded sink), so the
          // synthetic self-loop count never leaks into the report
          .join(totals.select(col("from_type").as("state"), col("n_from")),
            Seq("state"), "left")
          .crossJoin(broadcast(mass))
          .select(col("state"), col("p_x1e6").as("pi_x1e6"),
            abs(col("p_x1e6") - col("p_prev")).as("delta_x1e6"),
            coalesce(col("n_from"), lit(0L)).as("n_from"), col("mass_x1e6"))
          .orderBy("state")
      },
      Some {
        def round(k: Int): String =
          s"""p$k AS MATERIALIZED (
             |  SELECT cp.to_type AS state,
             |    CAST(sum(p.p * cp.n_pair // tp.n_from) AS BIGINT) AS p
             |  FROM cp JOIN tp USING (from_type)
             |  JOIN p${k - 1} p ON p.state = cp.from_type
             |  GROUP BY 1)""".stripMargin
        s"""WITH ev AS (
           |  SELECT event_type AS from_type,
           |    lead(event_type) OVER (
           |      PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
           |      AS to_type
           |  FROM events
           |), c AS MATERIALIZED (
           |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_pair
           |  FROM ev WHERE to_type IS NOT NULL GROUP BY 1, 2
           |), t AS MATERIALIZED (
           |  SELECT from_type, CAST(sum(n_pair) AS BIGINT) AS n_from
           |  FROM c GROUP BY 1
           |), sk AS (
           |  SELECT DISTINCT to_type AS from_type FROM c
           |  WHERE to_type NOT IN (SELECT from_type FROM c)
           |), cp AS MATERIALIZED (
           |  SELECT * FROM c
           |  UNION ALL SELECT from_type, from_type, 1::BIGINT FROM sk
           |), tp AS MATERIALIZED (
           |  SELECT * FROM t UNION ALL SELECT from_type, 1::BIGINT FROM sk
           |), ns AS (SELECT count(*) AS n_states FROM tp),
           |p0 AS MATERIALIZED (
           |  SELECT from_type AS state,
           |    CAST(1000000 // n_states AS BIGINT) AS p
           |  FROM tp CROSS JOIN ns),
           |${(1 to 8).map(round).mkString(",\n")},
           |mass AS (SELECT CAST(sum(p) AS BIGINT) AS mass_x1e6 FROM p8)
           |SELECT p8.state, p8.p AS pi_x1e6,
           |  CAST(abs(p8.p - p7.p) AS BIGINT) AS delta_x1e6,
           |  CAST(coalesce(t.n_from, 0) AS BIGINT) AS n_from,
           |  mass.mass_x1e6
           |FROM p8 JOIN p7 ON p8.state = p7.state
           |LEFT JOIN t ON p8.state = t.from_type
           |CROSS JOIN mass
           |ORDER BY p8.state""".stripMargin
      }),

    Q("f3_top_paths",
      (s, d) => {
        events(s, d)
          .groupBy(col("user_id"))
          .agg(array_join(slice(transform(
            sort_array(collect_list(struct(
              col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")), 1, 5), ">").as("path"))
          .groupBy(col("path"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("n_users").desc, col("path"))
          .limit(20)
      },
      Some("""SELECT path, count(*) AS n_users FROM (
             |  SELECT user_id,
             |    array_to_string((list(event_type ORDER BY ts, event_id))[1:5], '>') AS path
             |  FROM events GROUP BY user_id)
             |GROUP BY path ORDER BY n_users DESC, path LIMIT 20""".stripMargin)),

    // O12: ANALYZE-style table statistics — the optimizer-facing stats
    // collection every warehouse runs after load: per column, row count,
    // null count, and exact distinct cardinality, emitted as a stats
    // TABLE (one row per column) a cost model or data catalog ingests.
    // One pass per column over a column-pruned scan; at 100 TB swap the
    // exact count_distinct for the a17 HLL sketch — the emitted schema
    // is unchanged, which is why the stats table is the contract, not
    // the counting method.
    Q("o12_analyze",
      (s, d) => {
        val li = lineitem(s, d)
        val cols = Seq("l_orderkey", "l_partkey", "l_returnflag",
          "l_quantity", "l_shipdate")
        cols.map { c =>
          li.agg(
            lit(c).as("col_name"),
            count(lit(1)).as("n"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
            count_distinct(col(c)).as("n_distinct"))
        }.reduce(_.unionByName(_)).orderBy(col("col_name"))
      },
      Some("""SELECT col_name, CAST(n AS BIGINT) AS n,
             |  CAST(n_null AS BIGINT) AS n_null,
             |  CAST(n_distinct AS BIGINT) AS n_distinct
             |FROM (
             |  SELECT 'l_orderkey' AS col_name, count(*) AS n,
             |    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS n_null,
             |    count(DISTINCT l_orderkey) AS n_distinct FROM lineitem
             |  UNION ALL
             |  SELECT 'l_partkey', count(*),
             |    sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END),
             |    count(DISTINCT l_partkey) FROM lineitem
             |  UNION ALL
             |  SELECT 'l_returnflag', count(*),
             |    sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END),
             |    count(DISTINCT l_returnflag) FROM lineitem
             |  UNION ALL
             |  SELECT 'l_quantity', count(*),
             |    sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END),
             |    count(DISTINCT l_quantity) FROM lineitem
             |  UNION ALL
             |  SELECT 'l_shipdate', count(*),
             |    sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END),
             |    count(DISTINCT l_shipdate) FROM lineitem)
             |ORDER BY col_name""".stripMargin)),

    // P11: data-quality expectations — the dbt-test / Delta-constraints
    // shape: a fixed battery of checks, each one scalar violation count,
    // emitted as a (check, n_violations) table a CI gate reads. Each
    // check is a filter-count or anti-join — nothing materializes the
    // violating rows themselves (at 100 TB you count first and sample
    // the offenders separately). The referential check is the load-
    // bearing one: a left-anti join on the key, never a collected id
    // list.
    Q("p11_dq_checks",
      (s, d) => {
        val o = orders(s, d)
        val li = lineitem(s, d)
        val checks = Seq(
          o.agg(lit("orders_dup_pk").as("check_name"),
            (count(lit(1)) - count_distinct(col("o_orderkey")))
              .as("n_violations")),
          o.agg(lit("orders_null_custkey").as("check_name"),
            sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
              .as("n_violations")),
          o.agg(lit("orders_nonpositive_price").as("check_name"),
            sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L))
              .as("n_violations")),
          li.join(o.select(col("o_orderkey")),
              col("l_orderkey") === col("o_orderkey"), "left_anti")
            .agg(lit("lineitem_orphan").as("check_name"),
              count(lit(1)).as("n_violations")),
          li.agg(lit("lineitem_qty_range").as("check_name"),
            sum(when(!col("l_quantity").between(1, 50), 1L).otherwise(0L))
              .as("n_violations")))
        checks.reduce(_.unionByName(_)).orderBy(col("check_name"))
      },
      Some("""SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations
             |FROM (
             |  SELECT 'orders_dup_pk' AS check_name,
             |    count(*) - count(DISTINCT o_orderkey) AS n_violations
             |  FROM orders
             |  UNION ALL
             |  SELECT 'orders_null_custkey',
             |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
             |  FROM orders
             |  UNION ALL
             |  SELECT 'orders_nonpositive_price',
             |    sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
             |  FROM orders
             |  UNION ALL
             |  SELECT 'lineitem_orphan', count(*)
             |  FROM lineitem l WHERE NOT EXISTS (
             |    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
             |  UNION ALL
             |  SELECT 'lineitem_qty_range',
             |    sum(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END)
             |  FROM lineitem)
             |ORDER BY check_name""".stripMargin)),

    // M10: k-fold cross-validation — the missing member of the harness
    // family (m7 sweep / m8 grid / m9 curve): the quality-classifier
    // student is fit k times on deterministic md5-bucket folds (the c2
    // split primitive) and each held-out fold scores a rank-based AUC
    // (Mann-Whitney from a rank sum — no collect). The rank comes from
    // operators/GlobalRank (range-repartition + partition offsets), NOT
    // `row_number().over(Window.orderBy(...))`: an unpartitioned window
    // coalesces the whole scored fold into ONE partition — fine at sf0.1,
    // a stall when the held-out fold is a corpus shard (PlanSpec pins
    // the absence of a single-partition WindowExec over the fold rows).
    // (p_keep, doc_id) is a total order, so GlobalRank's result equals
    // the naive window bit-for-bit. Model output is engine-specific
    // -> rows-only; the fold-AUC floor and fold-disjointness laws live
    // in GraphTemporalSpec.
    Q("m10_cv",
      (s, d) => {
        val feats = graft.pipeline.QualityClassifier
          .featurize(tokenizedDocs(s, d))
          .withColumn("fold",
            pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
              .cast("long"), lit(3)))
        // the 3 fold fits are independent seeded LR fits — run them
        // concurrently (Par.inParallel): interleaving-invariant results,
        // double-run-checked by the registry walk (RegistryAuditSpec)
        val folds = graft.harness.Par.inParallel(0 until 3, width = 3) { i =>
          val model = graft.pipeline.QualityClassifier
            .fit(feats.filter(col("fold") =!= i))
          val scored = graft.pipeline.QualityClassifier
            .score(model, feats.filter(col("fold") === i))
          val ranked = graft.operators.GlobalRank.withRowNumber(
            scored, Seq(col("p_keep"), col("doc_id")), "r")
          ranked.agg(
            lit(i).as("fold"),
            count(lit(1)).as("n_test"),
            sum(col("label")).cast("long").as("n_pos"),
            round((sum(when(col("label") === 1.0, col("r")).otherwise(0L))
                - sum(col("label")) * (sum(col("label")) + 1) / 2.0)
              / (sum(col("label")) * (count(lit(1)) - sum(col("label")))),
              4).as("auc"))
        }
        folds.reduce(_.unionByName(_)).orderBy(col("fold"))
      },
      None),

    // J14: interval-OVERLAP join — the temporal-join family's missing
    // member (j8/j11 are as-of, j9/j10 are point-in-interval): every
    // campaign window [start, start+30d) pairs with every order window
    // [start, start+7d) it overlaps. Spark has no native interval join,
    // and the naive inequality join plans as a nested loop — so both
    // sides DECOMPOSE into covering day-buckets (width 16 d, so a 30-day
    // interval explodes to <= 3 rows) and meet in a bucket equi-join;
    // a distinct collapses multi-bucket double-hits and the exact
    // overlap predicate filters the bucket's false candidates. The
    // ORACLE is the plain inequality join — result-identical (the sk1
    // pattern: the optimized plan is checked against the naive
    // semantics). Overlap length in whole days is exact integer
    // epoch-day arithmetic.
    Q("j14_interval_overlap",
      (s, d) => {
        // exact integer day ids: `div`, never `/` (long / long promotes
        // to double — the Tables.eventTime hazard class)
        val o = orders(s, d)
          .withColumn("us", unix_micros(col("o_orderdate").cast("timestamp")))
          .withColumn("lo", expr("us div 86400000000"))
        val a = o.filter(col("o_orderkey") % 997 === 0)
          .select(col("o_orderkey").as("a_key"), col("lo").as("a_lo"),
            (col("lo") + 30).as("a_hi"))
        val b = o.select(col("o_orderkey").as("b_key"), col("lo").as("b_lo"),
          (col("lo") + 7).as("b_hi"))
        val ab = a.withColumn("bucket",
          explode(expr("sequence(a_lo div 16, (a_hi - 1) div 16)")))
        val bb = b.withColumn("bucket",
          explode(expr("sequence(b_lo div 16, (b_hi - 1) div 16)")))
        ab.join(bb, Seq("bucket"))
          .filter(col("a_lo") < col("b_hi") && col("b_lo") < col("a_hi"))
          .select(col("a_key"), col("b_key"),
            (least(col("a_hi"), col("b_hi"))
              - greatest(col("a_lo"), col("b_lo"))).as("overlap_days"))
          .distinct()
          .orderBy(col("a_key"), col("b_key"))
      },
      Some("""WITH o AS (
             |  SELECT o_orderkey, epoch_us(o_orderdate) // 86400000000 AS lo
             |  FROM orders),
             |a AS (SELECT o_orderkey AS a_key, lo AS a_lo, lo + 30 AS a_hi
             |      FROM o WHERE o_orderkey % 997 = 0),
             |b AS (SELECT o_orderkey AS b_key, lo AS b_lo, lo + 7 AS b_hi
             |      FROM o)
             |SELECT a_key, b_key,
             |  least(a_hi, b_hi) - greatest(a_lo, b_lo) AS overlap_days
             |FROM a JOIN b ON a_lo < b_hi AND b_lo < a_hi
             |ORDER BY a_key, b_key""".stripMargin)),

    // A17: mergeable distinct-count sketches — the incremental-stats
    // pattern a 100 TB pipeline actually uses: build one HLL sketch PER
    // SOURCE partition of the corpus (a partial, persistable artifact),
    // then MERGE the sketches for the global distinct estimate instead of
    // re-scanning history. hll_sketch_agg/hll_union_agg are Spark's
    // native DataSketches bindings (codegen'd, fixed 2^lgK register
    // state per group — the shuffle carries kilobyte sketches, never the
    // raw ids). Register-max merging is order-independent, so the
    // estimates are run-to-run deterministic (the registry walk's bar);
    // no DuckDB oracle by design — its HLL is a different sketch impl —
    // the estimate-vs-exact error law is pinned in GraphTemporalSpec.
    Q("a17_hll_distinct",
      (s, d) => {
        val perSource = documents(s, d)
          .groupBy(col("source"))
          .agg(hll_sketch_agg(col("doc_id"), lit(12)).as("sk"),
            count_distinct(col("doc_id")).as("n_exact"))
        val global = perSource
          .agg(hll_union_agg(col("sk"), lit(false)).as("sk"),
            sum(col("n_exact")).as("n_exact"))
          .select(lit("__all__").as("source"),
            hll_sketch_estimate(col("sk")).as("n_approx"), col("n_exact"))
        perSource
          .select(col("source"), hll_sketch_estimate(col("sk")).as("n_approx"),
            col("n_exact"))
          .union(global)
          .orderBy(col("source"))
      },
      None),

    // D10: fuzzy (edit-distance) matching — the string-similarity face of
    // the dedup block: candidates are generated ONLY within a blocking
    // key (the name's noun token), scored with exact levenshtein, and
    // reduced to each entity's BEST match (min dist, then min key).
    // r18 shape — score DISTINCT names, attach by key (guide §2.3
    // "shuffle keys and metadata instead of payloads" + §1.2 "don't
    // compute twice"): entity-level pair scoring evaluated the identical
    // string pair once per ENTITY pair — ~50M DP runs over a corpus with
    // 64 distinct names (duplicate-heavy corpora are the norm: this is
    // the same collapse exact-dedup rides). Now the DP runs once per
    // distinct (n1, n2) inside the block; the entity answer is rebuilt
    // EXACTLY from per-name aggregates, because for a fixed probe row
    // the struct-min over candidate entities factors through names:
    //   min over pk2 in pks(n2)\{pk1} of (dist(n1,n2), pk2)
    //     = (dist(n1,n2), min pks(n2))            for n2 != n1
    //     = (0, 2nd-min pks(n1)) when pk1 IS min  for n2 == n1 (cnt>=2)
    // so carrying (pk_min, pk_min2, cnt) per name loses nothing. The
    // name-level band join never does worse than the entity-level one
    // (distinct <= total rows). No join carries a broadcast() hint: every
    // per-name frame grows with the number of DISTINCT names, which the
    // data decides (a corpus with billions of distinct names would OOM the
    // driver on a hint AQE cannot demote), so static and AQE size-based
    // selection pick broadcast vs shuffle per input — broadcast at the
    // fixture scales, the shuffle arm past the threshold (FuzzyPairsSpec
    // runs both). The DP sits in the condition as the SINGLE conjunct
    // `levenshtein(n1,n2,2) >= 0` — the banded threshold form returns
    // exact distances <= 2 and -1 past the band, and one >= 0 test
    // survives filter-pushdown as ONE call (the r17 `between(0,2)` form
    // split into two conjuncts and the optimizer inlined the DP into
    // each: 3 evaluations/pair, a measured 3.2x driver regression).
    // Both engines run textbook Wagner-Fischer banded/full, so distances
    // are integer-identical; oracle (plain levenshtein over entity
    // pairs) is unchanged and pins the equivalence. (t8_edit_distance
    // scores a fixed pair list; this op GENERATES candidates and
    // resolves each entity.)
    Q("d10_fuzzy_pairs",
      (s, d) => {
        val named = part(s, d)
          .select(col("p_partkey"), col("p_name"),
            split(col("p_name"), " ").getItem(1).as("noun"))
        // per-name aggregates: the two smallest entity keys (+ count).
        // Two partial-aggregating passes, never a per-name collect — a
        // hot name at warehouse scale may own billions of entities.
        val perName = named.groupBy(col("noun"), col("p_name"))
          .agg(min(col("p_partkey")).as("pk_min"),
            count(lit(1)).as("cnt"))
        val secondMin = named.join(perName, Seq("noun", "p_name"))
          .filter(col("p_partkey") > col("pk_min"))
          .groupBy(col("noun"), col("p_name"))
          .agg(min(col("p_partkey")).as("pk_min2"))
        val nameAgg = perName
          .join(secondMin, Seq("noun", "p_name"), "left")
        // name-level banded join: every distinct in-block pair scored
        // once. The length-delta conjunct is levenshtein's lower bound —
        // a cheap int compare before the DP. Self-pairs (n1 == n2,
        // dist 0) are real candidates only when the name has a second
        // entity to point at.
        val namePairs = nameAgg.select(col("noun"), col("p_name").as("n1"))
          .join(nameAgg.select(col("noun").as("noun2"),
            col("p_name").as("n2"), col("pk_min"), col("pk_min2"),
            col("cnt")),
            col("noun") === col("noun2")
              && abs(length(col("n1")) - length(col("n2"))) <= 2
              && levenshtein(col("n1"), col("n2"), 2) >= 0)
          .filter(col("n1") =!= col("n2") || col("cnt") >= 2)
          .select(col("noun").as("bnoun"), col("n1"), col("n2"),
            levenshtein(col("n1"), col("n2"), 2).as("dist"),
            col("pk_min"), col("pk_min2"))
        // attach: entities join the scored-pair table by their own name
        // (broadcast while it is small, so entities are not shuffled),
        // resolve the self-name exclusion per entity, and reduce to the
        // best match (map-side partial struct-min, one row per entity
        // through the shuffle — same reduction contract as before).
        named
          .join(namePairs,
            col("noun") === col("bnoun") && col("p_name") === col("n1"))
          .select(col("p_partkey").as("pk1"), col("dist"),
            when(col("n2") === col("n1") && col("p_partkey") === col("pk_min"),
              col("pk_min2")).otherwise(col("pk_min")).as("pk2"))
          .groupBy(col("pk1"))
          .agg(min(struct(col("dist"), col("pk2"))).as("best"))
          .select(col("pk1"), col("best.pk2").as("best_pk2"),
            col("best.dist").cast("long").as("best_dist"))
          .orderBy(col("pk1"))
      },
      Some("""WITH named AS (
             |  SELECT p_partkey, p_name, split_part(p_name, ' ', 2) AS noun
             |  FROM part),
             |cand AS (
             |  SELECT a.p_partkey AS pk1, b.p_partkey AS pk2,
             |    levenshtein(a.p_name, b.p_name) AS dist
             |  FROM named a JOIN named b
             |    ON a.noun = b.noun AND a.p_partkey <> b.p_partkey
             |      AND abs(length(a.p_name) - length(b.p_name)) <= 2
             |  WHERE levenshtein(a.p_name, b.p_name) <= 2)
             |SELECT pk1, min(pk2) AS best_pk2, best_dist FROM (
             |  SELECT pk1, pk2, dist,
             |    min(dist) OVER (PARTITION BY pk1) AS best_dist
             |  FROM cand)
             |WHERE dist = best_dist GROUP BY pk1, best_dist
             |ORDER BY pk1""".stripMargin)),

    // A18: DDSketch mergeable quantile estimation (operators/DdSketch;
    // Masson et al., VLDB 2019) — a17's HLL answers "how many distinct",
    // this answers "what is p50/p90/p99" with the same mergeable-sketch
    // scale shape: map-side geometric bucketing, kilobyte (key, bucket,
    // count) state through the shuffle, vector-add merge. The query
    // sketches the two event halves INDEPENDENTLY and merges them — the
    // incremental path a streaming/partitioned corpus actually runs —
    // then reads off three quantiles per event_type. SELF-EVIDENCING
    // like e4: each row carries the exact interpolated percentile and
    // the relative error x1e6, with `ok` asserting the paper's
    // alpha=(gamma-1)/(gamma+1)~1% bound (+interp slack); DdSketchSpec
    // pins the merge-equality law and the error law on planted data.
    // Rows-only: bucket indexes ride on ln() ulps, which no cross-engine
    // hash survives (DecisionAudit rowsOnlyCovered).
    // T17: Misra-Gries heavy hitters (operators/MisraGries) — the third
    // mergeable sketch beside a17 (HLL distinct) and a18 (DDSketch
    // quantiles): per-source dominant terms in k counters, no full
    // frequency table, no global sort. Two-level shape that a 100 TB
    // corpus needs AND that pins determinism (MG is stream-order
    // dependent, so the query fixes a canonical order the way w11 does):
    // per-(source, doc-shard) sketches run the typed Aggregator over ONE
    // partition per group in sorted (doc_id, pos) order — map-side,
    // deterministic, shards set the parallelism; then the <= 8 shard
    // sketches per source merge RELATIONALLY (pointwise sum, subtract
    // the (k+1)-th largest, keep positives — Agarwal et al.'s mergeable-
    // summaries rule, error bounds add to n/(k+1) total). The shuffle
    // carries k counters per shard, never raw terms. SELF-EVIDENCING:
    // every row checks undercount-only, the n/(k+1) error bound, and
    // that no term above the bound was missed; MisraGriesSpec holds the
    // aggregator laws. Rows-only: estimates are order-dependent by
    // construction.
    Q("t17_heavy_hitters",
      (s, d) => {
        val k = 8
        val toks = documents(s, d)
          .select(col("doc_id"), col("source"),
            posexplode(graft.functions.TextFunctions.tokens(col("text")))
              .as(Seq("pos", "term")))
        val mg = udaf(new graft.operators.MisraGriesAgg(k))
        // two MATERIALIZATION cuts (round-14 scan census: t17 planned
        // EIGHT documents scans): the merged sketch frame feeds
        // ranked/cut/sketch — each reference re-ran the UDAF shard pass
        // and its corpus tokenize — and the exact term counts feed the
        // evidence joins twice; the per-source token totals are DERIVED
        // from the exact counts (sums of term counts ARE the totals)
        // instead of a third corpus pass. Two corpus passes remain by
        // construction: the sketch pass and the exact-evidence pass.
        val summed = graft.Scratch.cut(s, s"t17_sum_${graft.Scratch.key(d)}")(
          toks
            .withColumn("shard", pmod(col("doc_id"), lit(8)))
            .repartition(col("source"), col("shard"))
            .sortWithinPartitions(col("source"), col("shard"), col("doc_id"),
              col("pos"))
            .groupBy(col("source"), col("shard"))
            .agg(mg(col("term")).as("items"))
            .select(col("source"), explode(col("items")).as("it"))
            .groupBy(col("source"), col("it.term").as("term"))
            .agg(sum(col("it.est")).as("s"))
            .coalesce(1))
        val exact = graft.Scratch.cut(s, s"t17_ex_${graft.Scratch.key(d)}")(
          toks.groupBy(col("source"), col("term"))
            .agg(count(lit(1)).as("exact")))
        val wk = Window.partitionBy(col("source"))
          .orderBy(desc("s"), col("term"))
        val ranked = summed.withColumn("r", row_number().over(wk))
        val cut = ranked.filter(col("r") === k + 1)
          .select(col("source").as("c_src"), col("s").as("cut"))
        val sketch = ranked
          .join(cut, col("source") === col("c_src"), "left")
          .select(col("source"), col("term"),
            (col("s") - coalesce(col("cut"), lit(0L))).as("est"))
          .filter(col("est") > 0)
        val n = exact.groupBy(col("source"))
          .agg(sum(col("exact")).as("n_tokens"))
          .withColumn("bound", expr(s"n_tokens div ${k + 1}"))
        val missed = exact.join(n, Seq("source"))
          .filter(col("exact") > col("bound"))
          .join(sketch.select(col("source"), col("term")),
            Seq("source", "term"), "left_anti")
          .groupBy(col("source")).agg(count(lit(1)).as("n_missed_heavy"))
        sketch.join(exact, Seq("source", "term"))
          .join(n, Seq("source"))
          .join(missed, Seq("source"), "left")
          .select(col("source"), col("term"), col("est"), col("exact"),
            col("n_tokens"), col("bound"),
            (col("exact") - col("est")).as("under"),
            (col("est") <= col("exact")
              && col("exact") - col("est") <= col("bound")).cast("int")
              .as("ok"),
            coalesce(col("n_missed_heavy"), lit(0L)).as("n_missed_heavy"))
          .orderBy(col("source"), desc("est"), col("term"))
      },
      None),

    Q("a18_ddsketch_quantiles",
      (s, d) => {
        import graft.operators.DdSketch
        val gamma = 1.02
        val ev = events(s, d).select(col("event_type"), col("value"),
          col("event_id"))
        val keys = Seq("event_type")
        val sk = DdSketch.merge(
          DdSketch.sketch(ev.filter(col("event_id") % 2 === 0), keys,
            "value", gamma),
          DdSketch.sketch(ev.filter(col("event_id") % 2 === 1), keys,
            "value", gamma),
          keys)
        val est = DdSketch.quantiles(sk, keys, gamma, Seq(0.5, 0.9, 0.99))
        // evidence-only exact branch: the ORDER STATISTIC at the sketch's
        // target rank ceil(q*n) (NOT an interpolated percentile — in a
        // sparse tail the two legitimately diverge by more than alpha).
        // Bounded per-key ordered collect, same contract as a1/w11; a
        // production run ships the sketch alone and skips this branch.
        val exact = ev.groupBy(col("event_type"))
          .agg(sort_array(collect_list(col("value"))).as("vs"))
          .select(col("event_type").as("et"), col("vs"),
            explode(array(lit(0.5), lit(0.9), lit(0.99))).as("q2"))
          .select(col("et"), col("q2"),
            element_at(col("vs"), greatest(lit(1),
              ceil(col("q2") * size(col("vs")))).cast("int")).as("exact"))
        est.join(exact,
            col("event_type") === col("et") && col("q") === col("q2"))
          .select(col("event_type"), col("q"),
            round(col("estimate"), 4).as("estimate"),
            round(col("exact"), 4).as("exact"),
            round(abs(col("estimate") - col("exact")) / col("exact") * 1e6)
              .cast("long").as("rel_err_x1e6"))
          // alpha(1.02) = 9901 ppm; 12000 leaves slack for the 4-dp
          // output rounding of est/exact, nothing more
          .withColumn("ok",
            (col("rel_err_x1e6") <= 12000L).cast("int"))
          .orderBy(col("event_type"), col("q"))
      },
      None),

    // F7: cohort lifetime-value matrix — f2's retention counts upgraded
    // to cumulative revenue: users cohort by the week of their FIRST
    // event (any type; f2's exact epoch-week grid — integer div of the
    // canonical nanos, no calendar floats), purchases accrue to
    // (cohort, weeks-since), and LTV is the running total across age.
    // Revenue is exact cents. Scale shape: one groupBy finds each
    // user's cohort week (map-side combining min), one shuffle joins it
    // back on user_id, one partial-combining agg builds the
    // |cohorts|·|ages| matrix — and ONLY that tiny matrix rides the
    // cumulative window (partitioned by cohort), never the fact table.
    Q("f7_cohort_ltv",
      (s, d) => {
        val m = events(s, d).select(col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("c"),
          expr("ts div 604800000000000").as("wk"))
        val cohort = m.groupBy(col("user_id")).agg(min(col("wk")).as("w0"))
        val matrix = m.filter(col("event_type") === "purchase")
          .join(cohort, Seq("user_id"))
          .select(col("w0"), (col("wk") - col("w0")).as("age"),
            col("c"), col("user_id"))
          .groupBy(col("w0"), col("age"))
          .agg(countDistinct(col("user_id")).as("n_buyers"),
            sum(col("c")).as("rev_cents"))
        val w = Window.partitionBy(col("w0")).orderBy(col("age"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        matrix.withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
          .orderBy("w0", "age")
      },
      Some("""WITH m AS (
             |  SELECT user_id, event_type,
             |    CAST(round(value * 100) AS BIGINT) AS c,
             |    epoch_ns(ts) // 604800000000000 AS wk
             |  FROM events
             |), ch AS (
             |  SELECT user_id, min(wk) AS w0 FROM m GROUP BY user_id
             |), mat AS (
             |  SELECT w0, wk - w0 AS age,
             |    CAST(count(DISTINCT m.user_id) AS BIGINT) AS n_buyers,
             |    CAST(sum(c) AS BIGINT) AS rev_cents
             |  FROM m JOIN ch ON m.user_id = ch.user_id
             |  WHERE event_type = 'purchase'
             |  GROUP BY w0, wk - w0
             |)
             |SELECT w0, age, n_buyers, rev_cents,
             |  CAST(sum(rev_cents) OVER (PARTITION BY w0 ORDER BY age
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
             |FROM mat ORDER BY w0, age""".stripMargin)),

    // F8: SESSIONIZATION (composed face) — gap-based session windows,
    // the behavioral primitive under f1's funnel and f3's paths. w4
    // already registers Spark's NATIVE session_window(30m) readout; this
    // is the composed lag/running-sum formulation a pipeline reaches for
    // when it needs what the built-in won't give: a stable per-user
    // session INDEX, per-session duration/revenue, and a gap chosen per
    // corpus. A new session opens when the inter-event gap
    // exceeds 12h (the web-analytics 30-min convention scaled to this
    // corpus's ~7h median cadence so sessions are multi-event at every
    // SF); the break flag is one lag() and the session index its running
    // sum — both windows share ONE (user_id) partitioning with per-user
    // state, so a billion-user stream shuffles once and no partition
    // holds more than one user's history (the WindowGuard shape).
    // Everything is exact integer nanos/cents; (tns, event_id) is the
    // total per-user order both engines replay identically.
    Q("f8_sessionize",
      (s, d) => {
        val gap = 43200000000000L // 12h in nanos
        val ev = events(s, d).select(col("user_id"), col("event_id"),
          col("ts").as("tns"), round(col("value") * 100).cast("long").as("c"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("tns"), col("event_id"))
        val wcum = Window.partitionBy(col("user_id"))
          .orderBy(col("tns"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev
          .withColumn("brk",
            when(lag(col("tns"), 1).over(w).isNull
              || col("tns") - lag(col("tns"), 1).over(w) > gap, 1L)
              .otherwise(0L))
          .withColumn("session_idx", sum(col("brk")).over(wcum))
          .groupBy(col("user_id"), col("session_idx"))
          .agg(count(lit(1)).as("n_events"),
            min(col("tns")).as("start_ns"),
            (max(col("tns")) - min(col("tns"))).as("dur_ns"),
            sum(col("c")).as("cents"))
          .orderBy("user_id", "session_idx")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_id, epoch_ns(ts) AS tns,
             |    CAST(round(value * 100) AS BIGINT) AS c
             |  FROM events
             |), flg AS (
             |  SELECT *, CASE WHEN lag(tns) OVER w IS NULL
             |      OR tns - lag(tns) OVER w > 43200000000000::BIGINT
             |    THEN 1 ELSE 0 END AS brk
             |  FROM ev
             |  WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)
             |), sess AS (
             |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
             |    ORDER BY tns, event_id ROWS UNBOUNDED PRECEDING)
             |    AS BIGINT) AS session_idx
             |  FROM flg
             |)
             |SELECT user_id, session_idx,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(min(tns) AS BIGINT) AS start_ns,
             |  CAST(max(tns) - min(tns) AS BIGINT) AS dur_ns,
             |  CAST(sum(c) AS BIGINT) AS cents
             |FROM sess GROUP BY user_id, session_idx
             |ORDER BY user_id, session_idx""".stripMargin)),

    // F9: Kaplan–Meier survival curve with right-censoring — the
    // estimator behind every churn/retention readout f2's fixed windows
    // can't state: users whose last activity touches the observation
    // end are CENSORED (still alive), not churned, and the product-limit
    // form (Kaplan & Meier 1958) uses them correctly. Lifetimes are
    // daily-grain (last − born); a user "dies" at their last active day
    // unless that day is the corpus end. The curve is exact integers at
    // the x1e12 grain with the per-step floor product as the statistic's
    // DEFINITION (s ← s·(n_t − d_t) div n_t, seeded at 1e12 — both
    // engines fold the identical integer chain; censoring-only steps
    // multiply by exactly 1). The step product rides DECIMAL(38,0) vs
    // HUGEINT (s·n ≤ 1e12·1e10 = 1e22; HeadroomAudit carries the bound).
    // Scale shape: ONE per-user partial-combining aggregate over the
    // fact scan, MATERIALIZED to scratch at the calendar-bounded
    // lifetime grain (the a35/d5 discipline — the lifetime table feeds
    // the cumulative pass, the total, and the fold, and lazy lineage
    // would re-run the fact aggregate once per consumer); risk sets ride
    // one two-phase cumulative pass, the sequential fold runs over a
    // single collected list whose length the calendar bounds, then one
    // explode. PlanSpec pins the zero-fact-scan consumer plan.
    Q("f9_survival_km",
      (s, d) => {
        import graft.operators.GlobalRank
        val pu = events(s, d)
          .select(col("user_id"), expr("ts div 86400000000000").as("day"))
          .groupBy(col("user_id"))
          .agg(min(col("day")).as("born"), max(col("day")).as("last"))
        val end = pu.agg(max(col("last")).as("endd"))
        val dir = graft.Scratch.dir(s, "f9_lt")
        val lt = Sources.checkpoint(pu.crossJoin(broadcast(end))
          .select((col("last") - col("born")).as("t"),
            (col("last") < col("endd")).cast("long").as("e"))
          .groupBy(col("t"))
          .agg(sum(col("e")).as("d"), sum(lit(1L) - col("e")).as("c"))
          .withColumn("out", col("d") + col("c")), dir)
        val cum = GlobalRank.withRankAndRunningTotals(lt,
          Seq(col("t").asc), Seq("out"), "rk", Seq("cumout"))
        val tot = lt.agg(sum(col("out")).as("nn"))
        val steps = cum.crossJoin(broadcast(tot))
          .select(col("t"), (col("nn") - col("cumout") + col("out")).as("n"),
            col("d"), col("c"))
        steps
          .agg(sort_array(collect_list(struct(col("t"), col("n"),
            col("d"), col("c")))).as("xs"))
          .select(expr("""
            |aggregate(
            |  xs,
            |  array(named_struct(
            |    't', CAST(-1 AS BIGINT), 'n', CAST(0 AS BIGINT),
            |    'd', CAST(0 AS BIGINT), 'c', CAST(0 AS BIGINT),
            |    'surv', CAST(1000000000000 AS BIGINT))),
            |  (acc, x) -> array_append(acc, named_struct(
            |    't', x.t, 'n', x.n, 'd', x.d, 'c', x.c,
            |    'surv', CAST(
            |      CAST(element_at(acc, -1).surv AS DECIMAL(38,0))
            |        * (x.n - x.d) div x.n AS BIGINT))))""".stripMargin)
            .as("km"))
          .select(explode(expr("filter(km, x -> x.t >= 0)")).as("u"))
          .select(col("u.t").as("t"), col("u.n").as("n_at_risk"),
            col("u.d").as("d"), col("u.c").as("c"),
            col("u.surv").as("surv_x1e12"))
          .orderBy("t")
      },
      Some("""WITH pu AS (
             |  SELECT user_id,
             |    min(epoch_ns(ts) // 86400000000000) AS born,
             |    max(epoch_ns(ts) // 86400000000000) AS last
             |  FROM events GROUP BY user_id
             |), ed AS (
             |  SELECT max(last) AS endd FROM pu
             |), lt AS (
             |  SELECT last - born AS t,
             |    CAST(sum(CAST(last < endd AS BIGINT)) AS BIGINT) AS d,
             |    CAST(sum(CAST(last >= endd AS BIGINT)) AS BIGINT) AS c
             |  FROM pu CROSS JOIN ed GROUP BY 1
             |), tot AS (
             |  SELECT CAST(sum(d + c) AS BIGINT) AS nn FROM lt
             |), steps AS (
             |  SELECT t,
             |    nn - CAST(sum(d + c) OVER (ORDER BY t
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) + d + c AS n,
             |    d, c
             |  FROM lt CROSS JOIN tot
             |), lst AS (
             |  SELECT list([t, n, d, c] ORDER BY t) AS xs FROM steps
             |), km AS (
             |  SELECT unnest(list_reduce(
             |    [[[-1, 0, 0, 0, 1000000000000::BIGINT]]]
             |      || [[x || [0]] for x in xs],
             |    (acc, e) -> acc || [[e[1][1], e[1][2], e[1][3], e[1][4],
             |      CAST(CAST(acc[len(acc)][5] AS HUGEINT)
             |        * (e[1][2] - e[1][3]) // e[1][2] AS BIGINT)]]))
             |    AS u
             |  FROM lst
             |)
             |SELECT u[1] AS t, u[2] AS n_at_risk, u[3] AS d, u[4] AS c,
             |  u[5] AS surv_x1e12
             |FROM km WHERE u[1] >= 0 ORDER BY t""".stripMargin)),

    // F10: STICKINESS (DAU / trailing-7-day actives) — the SLIDING
    // COUNT-DISTINCT face product analytics runs daily, and the one
    // windowed aggregate Spark cannot express natively (count(distinct)
    // over a moving frame is unsupported, and a window over raw events
    // would hold per-user state). The scalable form is the BOUNDED
    // UNFOLD: reduce to distinct (user, day) pairs once, then explode
    // each pair into the <= 7 trailing windows it serves (day..day+6 —
    // a day's 7-day actives are exactly the users with a pair in
    // [day-6, day]) and count distinct per window day. Blowup is the
    // window length, a constant — never a day-grid cross join against
    // the corpus. Emitted per ACTIVE day (inner join to DAU): dau,
    // wau7, and stickiness = dau·1e4 div wau7 exact. The pair table is
    // MATERIALIZED to scratch — both the DAU and the unfolded WAU
    // aggregates read it, and the consumer plan never rescans events
    // (PlanSpec pin).
    Q("f10_stickiness",
      (s, d) => {
        val dir = graft.Scratch.dir(s, s"f10_ud_${graft.Scratch.key(d)}")
        val ud = Sources.checkpoint(events(s, d)
          .select(col("user_id"), expr("ts div 86400000000000").as("day"))
          .distinct(), dir)
        val dau = ud.groupBy(col("day"))
          .agg(count_distinct(col("user_id")).as("dau"))
        val wau = ud
          .select(col("user_id"),
            explode(sequence(col("day"), col("day") + 6)).as("wday"))
          .groupBy(col("wday"))
          .agg(count_distinct(col("user_id")).as("wau7"))
        dau.join(wau, col("day") === col("wday"))
          .select(col("day"), col("dau"), col("wau7"),
            expr("dau * 10000 div wau7").as("stickiness_x1e4"))
          .orderBy("day")
      },
      Some("""WITH ud AS (
             |  SELECT DISTINCT user_id,
             |    epoch_ns(ts) // 86400000000000 AS day
             |  FROM events
             |), dau AS (
             |  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
             |  FROM ud GROUP BY day
             |), unf AS (
             |  SELECT user_id, day + g.i AS wday FROM ud
             |  CROSS JOIN (SELECT unnest(range(0, 7)) AS i) g
             |), wau AS (
             |  SELECT wday, CAST(count(DISTINCT user_id) AS BIGINT) AS wau7
             |  FROM unf GROUP BY wday
             |)
             |SELECT day, dau, wau7,
             |  dau * 10000 // wau7 AS stickiness_x1e4
             |FROM dau JOIN wau ON wday = day ORDER BY day""".stripMargin)),

    // W16: single changepoint localization — a21's CUSUM says "this
    // series shifted"; this answers WHERE: the split of the hourly
    // revenue series maximizing the between-segment mean gap (binary
    // segmentation's first cut, the standard screening pass before a
    // full PELT run). Exact integers end to end: the series compresses
    // to per-hour sums (map-side), ONE GlobalRank pass yields position
    // + inclusive prefix in two phases (a million-bin series never
    // coalesces into one window partition), and each split's gap
    // |S_l·(n−s) − S_r·s| / (s·(n−s)) is DECIMAL(38,0) vs HUGEINT with
    // a x100 truncating division — ties broken by earliest split, so
    // the argmax is a total order and lowers to TakeOrdered(1), never
    // a global sort.
    Q("w16_changepoint",
      (s, d) => {
        import graft.operators.GlobalRank
        // the hourly-bin frame is MATERIALIZED: GlobalRank references
        // its input twice and the series totals a third time — the
        // unmaterialized form scanned events three times (round-14
        // scan census)
        val byBin = graft.Scratch.cut(s, s"w16_bins_${graft.Scratch.key(d)}")(
          events(s, d)
            .select(expr("ts div 3600000000000").as("bin"),
              round(col("value") * 100).cast("long").as("c"))
            .groupBy(col("bin")).agg(sum(col("c")).as("sb"))
            // coalesce(1): the frame's domain is BOUNDED (a value grid /
            // calendar bins), so one output file is scale-safe and cuts
            // the 32-file commit + read overhead; corpus-proportional
            // frames (a27/t15/t24) keep partitioned writes instead
            .coalesce(1))
        val cum = GlobalRank.withRankAndRunningTotals(byBin,
          Seq(col("bin").asc), Seq("sb"), "idx", Seq("cums"))
        val tot = byBin.agg(count(lit(1)).as("n"),
          sum(col("sb")).cast("decimal(38,0)").as("st"))
        cum.crossJoin(broadcast(tot))
          .filter(col("idx") < col("n"))
          .select(col("bin"), col("idx"), col("n"),
            col("cums").cast("decimal(38,0)").as("sl"),
            col("st"))
          .select(col("bin").as("split_bin"), col("idx").as("s"),
            col("n").as("n_bins"),
            expr("sl * 100 div idx").as("mean_l_x100"),
            expr("(st - sl) * 100 div (n - idx)").as("mean_r_x100"),
            expr("""abs(sl * (n - idx) - (st - sl) * idx) * 100
                   | div (idx * (n - idx))""".stripMargin).as("gap_x100"))
          .orderBy(desc("gap_x100"), col("s"))
          .limit(1)
      },
      Some("""WITH bins AS (
             |  SELECT epoch_ns(ts) // 3600000000000 AS bin,
             |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |      AS sb
             |  FROM events GROUP BY 1
             |), cum AS (
             |  SELECT bin,
             |    CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS idx,
             |    CAST(sum(sb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
             |      AS BIGINT) AS sl
             |  FROM bins
             |), tot AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(sb) AS HUGEINT) AS st
             |  FROM bins
             |)
             |SELECT bin AS split_bin, idx AS s, n AS n_bins,
             |  CAST(CAST(sl AS HUGEINT) * 100 // idx AS BIGINT)
             |    AS mean_l_x100,
             |  CAST((st - sl) * 100 // (n - idx) AS BIGINT) AS mean_r_x100,
             |  CAST(abs(CAST(sl AS HUGEINT) * (n - idx) - (st - sl) * idx)
             |    * 100 // (idx * (n - idx)) AS BIGINT) AS gap_x100
             |FROM cum CROSS JOIN tot
             |WHERE idx < n
             |ORDER BY gap_x100 DESC, s LIMIT 1""".stripMargin)),

    // G14: local clustering coefficient for the top hubs — "is this
    // hub a community core or a pure star?", the per-node refinement of
    // g3's global triangle count and the signal behind hub-cap /
    // community-seed choices. Per-node triangles enumerate wedges
    // (nbr-pair join, b < c canonical) probed against the canonical
    // edge list — Σdeg² wedge volume, g3's cost class, on the shared
    // cached edge artifact; LCC = 2·tri·1e6 div (deg·(deg−1)) exact.
    // Top-100 by (degree, node) lowers to TakeOrdered — the hub set is
    // what a partitioner actually needs, never all |V| rows.
    Q("g14_clustering_coeff",
      (s, d) => {
        val e = coocEdges(s, d)
        val nb = e.select(col("u").as("node"), col("v").as("nbr"))
          .union(e.select(col("v"), col("u")))
        val deg = nb.groupBy(col("node")).agg(count(lit(1)).as("deg"))
        val tri = nb.select(col("node"), col("nbr").as("b"))
          .join(nb.select(col("node"), col("nbr").as("c")), Seq("node"))
          .filter(col("b") < col("c"))
          .join(e.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"))
          .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
        deg.filter(col("deg") >= 2)
          .join(tri, Seq("node"), "left")
          .select(col("node"), col("deg"),
            coalesce(col("n_tri"), lit(0L)).as("n_tri"))
          // n_tri reaches deg²/2: ride decimal38 so 2e6·n_tri can't wrap
          // int64 on a mega-hub (deg > ~3e6)
          .select(col("node"), col("deg"), col("n_tri"),
            expr("""CAST(n_tri AS DECIMAL(38,0)) * 2 * 1000000
                   | div (CAST(deg AS DECIMAL(38,0)) * (deg - 1))"""
              .stripMargin).as("lcc_x1e6"))
          .orderBy(desc("deg"), col("node"))
          .limit(100)
      },
      Some("""WITH pairs AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
             |      FROM pairs a JOIN pairs b
             |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2 HAVING count(*) >= 2),
             |nb AS (SELECT u AS node, v AS nbr FROM e
             |       UNION ALL SELECT v, u FROM e),
             |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
             |        FROM nb GROUP BY node),
             |tri AS (
             |  SELECT w1.node, CAST(count(*) AS BIGINT) AS n_tri
             |  FROM nb w1 JOIN nb w2
             |    ON w1.node = w2.node AND w1.nbr < w2.nbr
             |  JOIN e ON e.u = w1.nbr AND e.v = w2.nbr
             |  GROUP BY w1.node
             |)
             |SELECT deg.node, deg,
             |  coalesce(tri.n_tri, 0) AS n_tri,
             |  CAST(CAST(coalesce(tri.n_tri, 0) AS HUGEINT) * 2 * 1000000
             |    // (CAST(deg AS HUGEINT) * (deg - 1)) AS BIGINT)
             |    AS lcc_x1e6
             |FROM deg LEFT JOIN tri ON deg.node = tri.node
             |WHERE deg >= 2
             |ORDER BY deg DESC, deg.node LIMIT 100""".stripMargin),
      needs = Seq(coocEdgeTable)),

    // G15: link prediction scores — g12 surfaces candidate non-edges by
    // raw common-neighbor count; this ranks them by the NORMALIZED
    // similarity scores the link-prediction literature actually uses
    // (Liben-Nowell & Kleinberg 2003): Jaccard = |Γa ∩ Γb| / |Γa ∪ Γb|
    // and the overlap coefficient |Γa ∩ Γb| / min(deg). Both are exact
    // integer quotients at the 1e6 grain — n_cn ≤ min(deg) ≤ node count,
    // so n_cn·1e6 ≤ ~1e16 rides int64 with no wide-integer surface.
    // Candidates are ALL 2-hop non-edges (n_cn ≥ 1, not g12's ≥ 2 —
    // Jaccard ranks 1-common-neighbor pairs fine, and the HAVING never
    // reduced the self-join's cost, only the aggregate's output; at
    // sf0.1 the denser graph leaves zero ≥2 non-edges). Scale shape is
    // g12's: the candidate generation is the one hub-bounded self-join
    // shuffle, degrees broadcast onto it, and the top-100 lowers to
    // TakeOrderedAndProject.
    Q("g15_link_prediction",
      (s, d) => {
        val e = coocEdges(s, d)
        val nb = e.select(col("u").as("node"), col("v").as("nbr"))
          .union(e.select(col("v"), col("u")))
        val cn = nb.as("x")
          .join(nb.as("y"),
            col("x.node") === col("y.node") && col("x.nbr") < col("y.nbr"))
          .groupBy(col("x.nbr").as("a"), col("y.nbr").as("b"))
          .agg(count(lit(1)).as("n_cn"))
                  val nonEdge = cn.join(
          e.select(col("u").as("a"), col("v").as("b")),
          Seq("a", "b"), "left_anti")
        val deg = nb.groupBy(col("node")).agg(count(lit(1)).as("deg"))
        nonEdge
          .join(deg.select(col("node").as("a"), col("deg").as("deg_a")),
            Seq("a"))
          .join(deg.select(col("node").as("b"), col("deg").as("deg_b")),
            Seq("b"))
          .select(col("a"), col("b"), col("n_cn"), col("deg_a"), col("deg_b"),
            expr("n_cn * 1000000 div (deg_a + deg_b - n_cn)")
              .as("jaccard_x1e6"),
            expr("n_cn * 1000000 div least(deg_a, deg_b)")
              .as("overlap_x1e6"))
          .orderBy(col("jaccard_x1e6").desc, col("n_cn").desc, col("a"),
            col("b"))
          .limit(100)
      },
      Some("""WITH pairs AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
             |      FROM pairs a JOIN pairs b
             |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |      GROUP BY 1, 2 HAVING count(*) >= 2),
             |nb AS (SELECT u AS node, v AS nbr FROM e
             |       UNION ALL SELECT v, u FROM e),
             |cn AS (SELECT x.nbr AS a, y.nbr AS b, count(*) AS n_cn
             |       FROM nb x JOIN nb y
             |         ON x.node = y.node AND x.nbr < y.nbr
             |       GROUP BY 1, 2),
             |ne AS (SELECT cn.a, cn.b, cn.n_cn FROM cn
             |       WHERE NOT EXISTS (SELECT 1 FROM e
             |         WHERE e.u = cn.a AND e.v = cn.b)),
             |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
             |        FROM nb GROUP BY node)
             |SELECT ne.a, ne.b, CAST(ne.n_cn AS BIGINT) AS n_cn,
             |  da.deg AS deg_a, db.deg AS deg_b,
             |  CAST(ne.n_cn * 1000000 // (da.deg + db.deg - ne.n_cn)
             |    AS BIGINT) AS jaccard_x1e6,
             |  CAST(ne.n_cn * 1000000 // least(da.deg, db.deg) AS BIGINT)
             |    AS overlap_x1e6
             |FROM ne JOIN deg da ON ne.a = da.node
             |JOIN deg db ON ne.b = db.node
             |ORDER BY jaccard_x1e6 DESC, n_cn DESC, a, b
             |LIMIT 100""".stripMargin),
      needs = Seq(coocEdgeTable)),

    // W17: Bollinger-band outlier flags — the rolling complement of
    // a16's global z-score and w16's single cut: each hour's revenue is
    // judged against its own trailing 24-hour window (self-inclusive,
    // the monitoring default), so a regime CHANGE flags once instead of
    // poisoning a global mean. sqrt-free by squaring the 2-sigma rule
    // into exact integers: |x − S/n| > 2σ  <=>  (x·n − S)² >
    // 4·(n·Sxx − S²), with sums/sum-of-squares riding DECIMAL(38,0) vs
    // HUGEINT (x² alone needs it past ~3e9 cents/hour). Scale shape:
    // the fact table compresses to per-(type, hour) sums map-side; the
    // 24-row sliding window runs over THAT series, partitioned by type
    // with bounded frame state; warm-up rows (n < 24) emit flag NULL
    // rather than a noisy verdict.
    Q("w17_bollinger_bands",
      (s, d) => {
        val byBin = events(s, d)
          .select(col("event_type"), expr("ts div 3600000000000").as("bin"),
            round(col("value") * 100).cast("long").as("c"))
          .groupBy(col("event_type"), col("bin"))
          .agg(sum(col("c")).as("x"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("bin"))
          .rowsBetween(-23, Window.currentRow)
        byBin
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("sw", sum(col("x").cast("decimal(38,0)")).over(w))
          .withColumn("sxx", sum(col("x").cast("decimal(38,0)")
            * col("x")).over(w))
          .select(col("event_type"), col("bin"), col("x").as("x_cents"),
            col("n").as("n_win"),
            expr("sw * 100 div n").as("mean_x100"),
            expr("(CAST(x AS DECIMAL(38,0)) * n - sw) * 100 div n")
              .as("dev_x100"),
            expr("""CASE WHEN n = 24 THEN CAST(
                   |  (CAST(x AS DECIMAL(38,0)) * n - sw)
                   |    * (CAST(x AS DECIMAL(38,0)) * n - sw)
                   |  > 4 * (n * sxx - sw * sw) AS INT)
                   | ELSE CAST(NULL AS INT) END""".stripMargin)
              .as("outside_2sigma"))
          .orderBy("event_type", "bin")
      },
      Some("""WITH bins AS (
             |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS bin,
             |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |      AS x
             |  FROM events GROUP BY event_type, bin
             |), roll AS (
             |  SELECT event_type, bin, x,
             |    CAST(count(*) OVER w AS BIGINT) AS n,
             |    CAST(sum(x) OVER w AS HUGEINT) AS sw,
             |    sum(CAST(x AS HUGEINT) * x) OVER w AS sxx
             |  FROM bins
             |  WINDOW w AS (PARTITION BY event_type ORDER BY bin
             |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
             |)
             |SELECT event_type, bin, x AS x_cents, n AS n_win,
             |  CAST(sw * 100 // n AS BIGINT) AS mean_x100,
             |  CAST((CAST(x AS HUGEINT) * n - sw) * 100 // n AS BIGINT)
             |    AS dev_x100,
             |  CASE WHEN n = 24 THEN CAST(
             |    (CAST(x AS HUGEINT) * n - sw)
             |      * (CAST(x AS HUGEINT) * n - sw)
             |    > 4 * (n * sxx - sw * sw) AS INT)
             |   ELSE CAST(NULL AS INT) END AS outside_2sigma
             |FROM roll ORDER BY event_type, bin""".stripMargin)),

    // W18: SEASONAL PROFILE — the hour-of-day fold w11/w13/w15 smooth
    // ACROSS and a35's ACF measures the strength of: per (event_type,
    // hour-of-day 0..23), activity count / exact cents / truncated mean,
    // plus each type's peak hour (max mean, earliest-hour tie-break)
    // flagged in-row. This is the seasonality table a forecasting
    // pipeline subtracts before trend-fitting and a capacity planner
    // reads directly. Scale shape: ONE partial-combining groupBy over
    // the fact table (24 x |types| groups at any corpus size), then
    // window algebra on the tiny profile frame only — the window
    // partitions by event_type with 24-row state.
    Q("w18_seasonal_profile",
      (s, d) => {
        val prof = events(s, d)
          .select(col("event_type"),
            expr("(ts div 3600000000000) % 24").as("hod"),
            round(col("value") * 100).cast("long").as("c"))
          .groupBy(col("event_type"), col("hod"))
          .agg(count(lit(1)).as("n_events"), sum(col("c")).as("cents"))
          .select(col("event_type"), col("hod"), col("n_events"),
            col("cents"), expr("cents div n_events").as("mean_x100"))
        val byType = Window.partitionBy(col("event_type"))
          .orderBy(col("mean_x100").desc, col("hod"))
        prof
          .withColumn("is_peak",
            (row_number().over(byType) === 1).cast("int"))
          .orderBy("event_type", "hod")
      },
      Some("""WITH prof AS (
             |  SELECT event_type,
             |    (epoch_ns(ts) // 3600000000000) % 24 AS hod,
             |    CAST(count(*) AS BIGINT) AS n_events,
             |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |      AS cents
             |  FROM events GROUP BY 1, 2
             |), m AS (
             |  SELECT event_type, CAST(hod AS BIGINT) AS hod, n_events,
             |    cents, CAST(cents // n_events AS BIGINT) AS mean_x100
             |  FROM prof
             |)
             |SELECT event_type, hod, n_events, cents, mean_x100,
             |  CAST(row_number() OVER (PARTITION BY event_type
             |    ORDER BY mean_x100 DESC, hod) = 1 AS INT) AS is_peak
             |FROM m ORDER BY event_type, hod""".stripMargin)),

    // W20: OHLC candles — the ordered-endpoint aggregation face the
    // w-series lacked: per (event_type, hour), OPEN and CLOSE are the
    // values of the FIRST and LAST event in the bucket, HIGH/LOW the
    // extremes. first/last are where nondeterminism classically leaks in
    // (any-value under a hoped-for order); here they are min_by/max_by
    // under the TOTAL order (ts, event_id) — event_id is unique, so ties
    // on ts cannot flip the hash across engines or partitionings. The
    // DuckDB mirror packs the same order into one HUGEINT key
    // (epoch_ns·1e9 + event_id; the testdata envelope has event_id <
    // 1e9 — the Spark side's struct order carries no such bound).
    // Scale shape: ONE partial-combining groupBy over the fact table —
    // min_by/max_by combine map-side like any min/max, so the shuffle
    // carries one candle per (type, hour) per map partition; no window,
    // no sort of the raw events.
    Q("w20_ohlc_candles",
      (s, d) => events(s, d)
        .select(col("event_type"), expr("ts div 3600000000000").as("bin"),
          col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n_events"),
          min_by(col("c"), struct(col("ts"), col("event_id")))
            .as("open_x100"),
          max(col("c")).as("high_x100"),
          min(col("c")).as("low_x100"),
          max_by(col("c"), struct(col("ts"), col("event_id")))
            .as("close_x100"))
        .select(col("event_type"), col("bin"), col("n_events"),
          col("open_x100"), col("high_x100"), col("low_x100"),
          col("close_x100"),
          (col("high_x100") - col("low_x100")).as("range_x100"))
        .orderBy("event_type", "bin"),
      Some("""WITH ev AS (
             |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS bin,
             |    CAST(epoch_ns(ts) AS HUGEINT) * 1000000000 + event_id
             |      AS ord,
             |    CAST(round(value * 100) AS BIGINT) AS c
             |  FROM events
             |)
             |SELECT event_type, bin,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  arg_min(c, ord) AS open_x100,
             |  max(c) AS high_x100,
             |  min(c) AS low_x100,
             |  arg_max(c, ord) AS close_x100,
             |  max(c) - min(c) AS range_x100
             |FROM ev GROUP BY event_type, bin
             |ORDER BY event_type, bin""".stripMargin)),

    // W21: maximum-drawdown curve — the running-peak shortfall over the
    // daily equity series (w20's candles tell you the range; drawdown
    // tells you the worst peak-to-trough hold, the number risk reports
    // lead with). Exact integer cents end to end: daily nets are one
    // partial-combining aggregate over the corpus, the day frame is
    // BOUNDED (calendar domain — a28's cut + coalesce(1) discipline), so
    // the running sum and running max ride TinyWindow over the tiny
    // frame, never a corpus-wide window. Equity is a long: it overflows
    // int64 only past ~9.2e16 total cents of flow (~$9e14 net), stated
    // here per the audit conventions; the per-day NET is the bounded
    // quantity the partial aggregate shuffles.
    Q("w21_drawdown",
      (s, d) => {
        val daily = graft.Scratch.cut(s, s"w21_day_${graft.Scratch.key(d)}")(
          events(s, d)
            .select(expr("ts div 86400000000000").as("day"),
              round(col("value") * 100).cast("long").as("c"))
            .groupBy(col("day")).agg(sum(col("c")).as("net"))
            // coalesce(1): bounded calendar domain (a28's rationale)
            .coalesce(1))
        // both running aggregates share one ordered frame over the
        // bounded day table — 2 window passes over ~thousands of rows
        val run = graft.operators.TinyWindow.total(col("day"))(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily.withColumn("equity", sum(col("net")).over(run))
          .withColumn("peak", max(col("equity")).over(run))
          .select(col("day"), col("net"), col("equity"), col("peak"),
            (col("peak") - col("equity")).as("drawdown"))
          .orderBy("day")
      },
      Some("""WITH dayv AS (
             |  SELECT epoch_ns(ts) // 86400000000000 AS day,
             |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |      AS net
             |  FROM events GROUP BY 1
             |), eq AS (
             |  SELECT day, net,
             |    CAST(sum(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
             |      AS BIGINT) AS equity
             |  FROM dayv
             |), pk AS (
             |  SELECT day, net, equity,
             |    CAST(max(equity) OVER (ORDER BY day ROWS UNBOUNDED
             |      PRECEDING) AS BIGINT) AS peak
             |  FROM eq
             |)
             |SELECT day, net, equity, peak, peak - equity AS drawdown
             |FROM pk ORDER BY day""".stripMargin))
  )
}
