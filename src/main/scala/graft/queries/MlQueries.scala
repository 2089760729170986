package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Artifact, Q, Tables}
import graft.eval.RankingEval
import graft.model.{AlsConfig, AlsTrainer}
import graft.prep.Indexing

/** ML-pipeline operators as registered queries (SURVEY.md §2.9).
  *
  * The SQL-expressible halves (StringIndexer semantics, ranking metrics)
  * get full DuckDB oracle rows; ALS itself is not SQL-expressible, so its
  * queries are rows-only here and covered by golden metric tests in
  * AlsSpec/RankingEvalSpec (the CORRECTNESS equivalent for model code).
  */
object MlQueries {
  import Tables._

  private def featuredDocs(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.pipeline.QualityClassifier.featurize(Tables.tokenizedDocs(s, d))

  /** The c5 distilled quality model — fit once per (session, sf dir),
    * every execution scores with the cached weights (scoring is map-side;
    * only the fit is snapshot work). Bench reports the fit as "_qc_fit".
    */
  private val qc = Artifact("_qc_fit")((s, d) =>
    graft.pipeline.QualityClassifier.fit(featuredDocs(s, d)))

  def pretrainQuality(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    qc.get(s, d); ()
  }

  private[graft] def ratingsOf(s: org.apache.spark.sql.SparkSession, d: String) =
    lineitem(s, d)
      .groupBy(col("l_suppkey").cast("int").as("user_idx"),
        col("l_partkey").cast("int").as("item_idx"))
      .agg(sum(col("l_quantity")).cast("float").as("count"))

  private[graft] val alsCfg = AlsConfig(rank = 8, regParam = 0.1, alpha = 10.0,
    maxIter = 5, userBlocks = 8, itemBlocks = 8)

  /** m4/m5/m6/m11/m12 evaluate the SAME trained model (recommend,
    * transform, similarity, ...). A fitted model is an artifact, not a
    * query: trained once per (session, sf dir) and reused — exactly what a
    * model registry does in production. Bench fits it BEFORE timing and
    * reports "_als_fit", so model training (±10 s variance at sf0.1) is
    * never charged to whichever query happens to run first.
    */
  private[graft] val als = Artifact("_als_fit")((s, d) =>
    AlsTrainer.fit(ratingsOf(s, d), alsCfg))

  def pretrainAls(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    als.get(s, d); ()
  }

  def clearCaches(): Unit = { als.reset(); qc.reset() }

  val all: Seq[Q] = Seq(

    // M1/M2/S3: two-stage StringIndexer Pipeline — fit on events, persist,
    // reload, transform (the reference's indexing ETL,
    // /root/reference/ALS_model/sample_indexer.py:41-48). Oracled: index i =
    // rank of the label by (frequency desc, label-string asc), the
    // documented frequencyDesc order. Numeric user_id is cast to string by
    // StringIndexer, so the oracle ties sort on the STRING form.
    Q("m1_indexer_pipeline",
      (s, d) => {
        val ev = events(s, d)
        val model = Indexing.fitAndSave(ev, "user_id", "event_type",
          graft.Scratch.dir(s, "m1_indexer"))
        model.transform(ev)
          .select(col("event_id"),
            col("user_id_idx").cast("long").as("user_idx"),
            col("event_type_idx").cast("long").as("type_idx"))
          .orderBy("event_id")
      },
      Some("""WITH uc AS (
             |  SELECT CAST(user_id AS VARCHAR) AS u, count(*) AS c
             |  FROM events GROUP BY 1
             |), ui AS (
             |  SELECT u, row_number() OVER (ORDER BY c DESC, u) - 1 AS uidx FROM uc
             |), ec AS (
             |  SELECT event_type AS e, count(*) AS c FROM events GROUP BY 1
             |), ei AS (
             |  SELECT e, row_number() OVER (ORDER BY c DESC, e) - 1 AS eidx FROM ec
             |)
             |SELECT ev.event_id, ui.uidx AS user_idx, ei.eidx AS type_idx
             |FROM events ev
             |JOIN ui ON CAST(ev.user_id AS VARCHAR) = ui.u
             |JOIN ei ON ev.event_type = ei.e
             |ORDER BY ev.event_id""".stripMargin)),

    // A11 (SQL form): precision@k per user over synthetic pred/truth lists —
    // pred = top-3 orders by price, truth = status-'F' orders. Integer-scaled
    // so both engines format identically.
    Q("m2_precision_at_k",
      (s, d) => {
        val o = orders(s, d)
        val pred = o.withColumn("rn", row_number().over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(desc("o_totalprice"), col("o_orderkey"))))
          .filter(col("rn") <= 3)
          .groupBy(col("o_custkey"))
          .agg(collect_list(col("o_orderkey")).as("pred"))
        val truth = o.filter(col("o_orderstatus") === "F")
          .groupBy(col("o_custkey"))
          .agg(collect_list(col("o_orderkey")).as("truth"))
        pred.join(truth, Seq("o_custkey"))
          .select(col("o_custkey"),
            size(array_intersect(col("pred"), col("truth"))).cast("long")
              .as("hits"),
            round(size(array_intersect(col("pred"), col("truth"))) * lit(1000.0) / 3)
              .cast("long").as("prec_x1000"))
          .orderBy("o_custkey")
      },
      Some("""WITH p AS (
             |  SELECT o_custkey, list(o_orderkey ORDER BY o_totalprice DESC, o_orderkey) AS allp
             |  FROM orders GROUP BY o_custkey
             |), pred AS (
             |  SELECT o_custkey, allp[1:3] AS pred FROM p
             |), truth AS (
             |  SELECT o_custkey, list(o_orderkey) AS truth
             |  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
             |)
             |SELECT pred.o_custkey,
             |  len(list_intersect(pred, truth)) AS hits,
             |  CAST(round(len(list_intersect(pred, truth)) * 1000.0 / 3) AS BIGINT)
             |    AS prec_x1000
             |FROM pred JOIN truth USING (o_custkey)
             |ORDER BY o_custkey""".stripMargin)),

    // A11 (full form): MAP / P@5 / NDCG@5 through the typed
    // RankingAggregator — the DataFrame-native replacement for the
    // reference's RDD RankingMetrics bridge (M6). The oracle recomputes all
    // three metrics with list arithmetic, so this row checks the Aggregator
    // itself against an independent engine.
    Q("m3_ranking_metrics",
      (s, d) => {
        val o = orders(s, d)
        // rank order is semantic for MAP/NDCG, and collect_list has no
        // ordering guarantee — pin it by collecting (rn, key) structs and
        // sorting inside the agg (SURVEY §7.3 hazard 2).
        val pred = o.withColumn("rn", row_number().over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(desc("o_totalprice"), col("o_orderkey"))))
          .filter(col("rn") <= 5)
          .groupBy(col("o_custkey"))
          .agg(sort_array(collect_list(struct(col("rn"),
            col("o_orderkey").cast("int").as("k")))).as("pr"))
          .select(col("o_custkey"), col("pr.k").as("pred"))
        val truth = o.filter(col("o_orderstatus") === "F")
          .groupBy(col("o_custkey"))
          .agg(collect_list(col("o_orderkey").cast("int")).as("truth"))
        val pairs = pred.join(truth, Seq("o_custkey"))
          .select(col("pred"), col("truth"))
        val m = RankingEval.evaluate(pairs, 5)
        val spark = s
        import spark.implicits._
        Seq((BigDecimal(m.meanAveragePrecision).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          BigDecimal(m.precisionAtK).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          BigDecimal(m.ndcgAtK).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          m.users))
          .toDF("map", "p_at_5", "ndcg_at_5", "users")
      },
      Some("""WITH p AS (
             |  SELECT o_custkey, list(o_orderkey ORDER BY o_totalprice DESC, o_orderkey) AS allp
             |  FROM orders GROUP BY o_custkey
             |), pred AS (
             |  SELECT o_custkey, allp[1:5] AS pred FROM p
             |), truth AS (
             |  SELECT o_custkey, list(o_orderkey) AS truth
             |  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
             |), per_user AS (
             |  SELECT pred.o_custkey,
             |    list_sum([CASE WHEN list_contains(truth, pred[i])
             |      THEN len(list_filter(pred[1:i], x -> list_contains(truth, x))) * 1.0 / i
             |      ELSE 0.0 END for i in range(1, len(pred) + 1)]) / len(truth) AS ap,
             |    len(list_filter(pred[1:5], x -> list_contains(truth, x))) / 5.0 AS p5,
             |    list_sum([CASE WHEN list_contains(truth, pred[i])
             |      THEN 1.0 / log2(i + 1) ELSE 0.0 END
             |      for i in range(1, least(len(pred), 5) + 1)])
             |    / list_sum([1.0 / log2(i + 1)
             |      for i in range(1, least(len(truth), 5) + 1)]) AS ndcg
             |  FROM pred JOIN truth USING (o_custkey)
             |)
             |SELECT round(avg(ap), 6) AS map, round(avg(p5), 6) AS p_at_5,
             |  round(avg(ndcg), 6) AS ndcg_at_5, count(*) AS users
             |FROM per_user""".stripMargin)),

    // M3/M5/O4: implicit-feedback ALS trained on (supplier, part, quantity)
    // interactions, then top-5 recommendForUserSubset. Not SQL-expressible:
    // rows-only here, golden-metric coverage in AlsSpec. Fixed seed keeps
    // the driver run deterministic.
    Q("m4_als_recommend",
      (s, d) => {
        val model = als.get(s, d)
        val users = ratingsOf(s, d).select(col("user_idx")).distinct()
          .filter(col("user_idx") < 10)
        AlsTrainer.recommendLists(model, users, 5)
          .select(col("user_idx"),
            array_join(col("pred").cast("array<string>"), ",").as("pred"))
          .orderBy("user_idx")
      },
      None,
      needs = Seq(als)),

    // M4/A10: ALSModel.transform scores on held-out pairs + RMSE — the
    // reference's RegressionEvaluator step (one_train.py:56-58). Rows-only
    // (model scores aren't SQL-expressible); the metric arithmetic itself
    // is oracled via a10_rmse.
    Q("m5_als_rmse",
      (s, d) => {
        val model = als.get(s, d)
        val rmse = RankingEval.rmse(AlsTrainer.scores(model, ratingsOf(s, d)),
          "count", "prediction")
        val spark = s
        import spark.implicits._
        // scoring the training pairs themselves, so nothing cold-start-drops
        // and rmse is defined; the NaN guard still protects the row shape
        val r2 = if (rmse.isNaN) -1.0
          else BigDecimal(rmse).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
        Seq(Tuple1(r2)).toDF("rmse_2dp")
      },
      None,
      needs = Seq(als)),

    // Item-item similarity from the ALS item-factor matrix — "related
    // items", the factor-geometry analysis the reference explores with
    // UMAP (BASELINE.md §4). Reuses the cached m4/m5 model; the small
    // query-item set broadcasts so the factor matrix streams once with no
    // shuffle; ranking is a per-query window top-k. Rows-only (model
    // factors aren't SQL-expressible); AlsSpec covers factor quality.
    Q("m6_item_similarity",
      (s, d) => {
        import graft.functions.VectorFunctions._
        val model = als.get(s, d)
        val items = model.itemFactors
          .select(col("id").cast("long").as("item"),
            col("features").cast("array<double>").as("v"))
          .withColumn("nrm", l2Norm(col("v")))
        val q = items.filter(col("item") < 5)
          .select(col("item").as("q_item"), col("v").as("qv"),
            col("nrm").as("qnrm"))
        items.join(broadcast(q), col("item") =!= col("q_item"))
          .select(col("q_item"), col("item").as("cand_item"),
            round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4).as("cos"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("q_item")).orderBy(desc("cos"), col("cand_item")))
            .cast("long"))
          .filter(col("rn") <= 3)
          .orderBy("q_item", "rn")
      },
      None,
      needs = Seq(als)),

    // M7 (and the machinery shared with M8/M9): a 1-D rank sweep through
    // graft.harness.Sweeps — the reference's driver-loop hyperparameter
    // search (/root/reference/ALS_model/param_train_1st.py:43-52), one
    // SweepPoint row per config. Deliberately tiny (subsampled interactions,
    // 2 ranks, 2 iterations) so the driver run stays cheap; the harness
    // itself is scale-agnostic (train persisted around the loop, metrics
    // via the partial-agg RankingAggregator). Rows-only: ALS fits aren't
    // SQL-expressible; determinism comes from the fixed seed + fixed split.
    // fitSeconds is wall-clock and therefore EXCLUDED from the output —
    // every emitted column is integer-scaled and run-stable.
    Q("m7_sweep",
      (s, d) => {
        val ratings = ratingsOf(s, d).filter(col("user_idx") < 60)
        // deterministic PAIR-level split (never by item: an item-disjoint
        // validation set has no scoreable rows under coldStartStrategy=drop,
        // so RMSE would be null)
        val bucket = pmod(col("item_idx") * 7 + col("user_idx"), lit(5))
        val valDf = ratings.filter(bucket === 0)
        val train = ratings.filter(bucket =!= 0)
        val base = alsCfg.copy(maxIter = 2, userBlocks = 4, itemBlocks = 4)
        val points = graft.harness.Sweeps.sweep1D(train, valDf, base, k = 3,
          ranks = Seq(2, 4))
        val spark = s
        import spark.implicits._
        points.map(p => (p.rank, (p.regParam * 100).round, (p.alpha * 10).round,
            sweepX1e6(p.metrics.meanAveragePrecision),
            sweepX1e6(p.metrics.precisionAtK), sweepX1e6(p.metrics.ndcgAtK),
            sweepX1e6(p.rmse), p.metrics.users))
          .toDF("rank", "reg_x100", "alpha_x10", "map_x1e6", "p_at_k_x1e6",
            "ndcg_x1e6", "rmse_x1e6", "users")
          .orderBy("rank")
      },
      None),

    // M8: full grid search — rank x regParam x alpha, the reference's 3x3x3
    // driver loop (/root/reference/ALS_model/param_train_2nd.py:43-53),
    // miniaturized to 2x2x1 so the driver run stays cheap. Same determinism
    // contract as m7: fixed seed, fixed pair-level split, fitSeconds
    // excluded, every emitted column integer-scaled. Rows-only by design.
    Q("m8_grid",
      (s, d) => {
        val ratings = ratingsOf(s, d).filter(col("user_idx") < 50)
        val bucket = pmod(col("item_idx") * 7 + col("user_idx"), lit(5))
        val valDf = ratings.filter(bucket === 0)
        val train = ratings.filter(bucket =!= 0)
        val base = alsCfg.copy(maxIter = 1, userBlocks = 4, itemBlocks = 4)
        val points = graft.harness.Sweeps.grid(train, valDf, base, k = 3,
          ranks = Seq(2, 4), regs = Seq(0.05, 0.1), alphas = Seq(10.0))
        val spark = s
        import spark.implicits._
        points.map(p => (p.rank, (p.regParam * 100).round, (p.alpha * 10).round,
            sweepX1e6(p.metrics.meanAveragePrecision),
            sweepX1e6(p.metrics.precisionAtK), sweepX1e6(p.metrics.ndcgAtK),
            sweepX1e6(p.rmse), p.metrics.users))
          .toDF("rank", "reg_x100", "alpha_x10", "map_x1e6", "p_at_k_x1e6",
            "ndcg_x1e6", "rmse_x1e6", "users")
          .orderBy("rank", "reg_x100", "alpha_x10")
      },
      None),

    // M9: learning curve — ranking metrics vs training fraction, the
    // reference's fraction loop (/root/reference/ALS_model/learning_curve.py:
    // 46-111 and the timing extension als_model_extension_2.py:37-79).
    // fitSeconds is measured by the harness but EXCLUDED from the output
    // (wall-clock is never run-stable); the seeded Bernoulli sample keeps
    // the f<1 rows deterministic. Rows-only by design.
    Q("m9_curve",
      (s, d) => {
        val ratings = ratingsOf(s, d).filter(col("user_idx") < 50)
        val bucket = pmod(col("item_idx") * 7 + col("user_idx"), lit(5))
        val valDf = ratings.filter(bucket === 0)
        val train = ratings.filter(bucket =!= 0)
        val base = alsCfg.copy(rank = 2, maxIter = 2, userBlocks = 4,
          itemBlocks = 4)
        val points = graft.harness.Sweeps.learningCurve(train, valDf, base,
          k = 3, fractions = Seq(0.5, 1.0))
        val spark = s
        import spark.implicits._
        points.map(p => ((p.fraction * 100).round,
            sweepX1e6(p.metrics.meanAveragePrecision),
            sweepX1e6(p.metrics.precisionAtK), sweepX1e6(p.metrics.ndcgAtK),
            sweepX1e6(p.rmse), p.metrics.users))
          .toDF("frac_x100", "map_x1e6", "p_at_k_x1e6", "ndcg_x1e6",
            "rmse_x1e6", "users")
          .orderBy("frac_x100")
      },
      None),

    // C5: distilled quality classifier APPLIED — the fit is a cached
    // artifact (`qc`; "_qc_fit" in Bench); what this query times is the
    // 100 TB-shaped part, scoring every document with broadcast weights
    // (no shuffle until the 10-row calibration rollup). Output is the
    // decile calibration table: per predicted-probability decile, document
    // count, how many the weak labeler itself would keep, and the mean
    // score — the report a curation team reads before trusting the
    // distilled model over its teacher. Model output -> rows-only by
    // design; QualityClassifierSpec holds the AUC floor vs the teacher
    // rule.
    Q("c5_quality_classifier",
      (s, d) => {
        val scored = graft.pipeline.QualityClassifier
          .score(qc.get(s, d), featuredDocs(s, d))
        scored
          .groupBy(least(floor(col("p_keep") * 10), lit(9)).cast("long")
            .as("decile"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("label")).cast("long").as("n_keep_label"),
            round(avg(col("p_keep")) * 1000).cast("long").as("mean_p_x1000"))
          .orderBy("decile")
      },
      None,
      needs = Seq(qc)),

    // M11: recommendation COVERAGE and NOVELTY — the beyond-accuracy
    // audit a recsys ships beside MAP/NDCG (m2/m3): what fraction of the
    // catalog does the recommender ever surface (aggregate diversity —
    // a popularity-collapsed model scores high accuracy while showing
    // everyone the same 50 items), and how popular is the average
    // recommended item (novelty as the integer self-information class of
    // its interaction share — t14's frequency-class discipline, so the
    // metric is exact integers over model output). Shape: recommend is
    // the cached model's blocked matmul; the popularity side is a
    // partial-combining aggregate; catalog totals are 1-row broadcasts;
    // the final rollup is a single scalar row. Rows-only by design
    // (model output); AlsSpec holds the structural laws.
    Q("m11_rec_coverage",
      (s, d) => {
        val model = als.get(s, d)
        val ratings = ratingsOf(s, d)
        val users = ratings.select(col("user_idx")).distinct()
        val recs = AlsTrainer.recommendLists(model, users, 5)
          .select(col("user_idx"), explode(col("pred")).as("item_idx"))
        val pop = ratings.groupBy(col("item_idx"))
          .agg(round(sum(col("count"))).cast("long").as("n_inter"))
        val tot = pop.agg(sum(col("n_inter")).cast("long").as("total"),
          count(lit(1)).as("catalog"))
        recs.join(pop, Seq("item_idx"))
          .crossJoin(broadcast(tot))
          .select(col("user_idx"), col("item_idx"), col("catalog"),
            (length(bin(expr("total div n_inter"))) - 1).cast("long").as("cls"))
          .groupBy(col("catalog"))
          .agg(count_distinct(col("user_idx")).as("n_users"),
            count(lit(1)).as("n_pairs"),
            count_distinct(col("item_idx")).as("n_distinct_items"),
            sum(col("cls")).as("scls"))
          .select(col("n_users"), col("n_pairs"), col("n_distinct_items"),
            col("catalog"),
            expr("n_distinct_items * 10000 div catalog").as("coverage_x1e4"),
            expr("scls * 1000 div n_pairs").as("mean_novelty_x1000"))
      },
      None,
      needs = Seq(als)),

    // M12: implicit-ALS FOLD-IN serving (model/FoldIn) — factors for
    // users who arrived AFTER training, from the frozen item factors:
    // the closed-form per-user solve of the same normal equations ALS's
    // user half-step runs ("retrain nightly, fold in continuously" — no
    // deployment refits per new user). The query simulates arrivals by
    // re-keying 20 existing users (+100000), folds them in, serves
    // top-3 by dot product against the item factors, and carries its
    // own evidence: `overlap3` = agreement with the model's OWN recs
    // for the original user (the fold-in of identical behavior must
    // rank like the trained factor; FoldInSpec pins the cosine floor
    // and this overlap). Rows-only by design (model output). Scale:
    // YtY is one broadcast k x k aggregate, each fold is an 8x8 solve
    // over the user's own history, and serving is a broadcast of the
    // small folded side — no refit, no full-table shuffle.
    Q("m12_fold_in",
      (s, d) => {
        val model = als.get(s, d)
        val orig = ratingsOf(s, d).filter(col("user_idx") < 20)
        val newbies = orig.select(
          (col("user_idx") + 100000).cast("int").as("user_idx"),
          col("item_idx"), col("count"))
        val folded = graft.model.FoldIn
          .userFactors(model, newbies, alsCfg.alpha, alsCfg.regParam)
          .select(col("user_idx"), col("features").as("x"))
        val items = model.itemFactors.select(col("id").as("item_idx"),
          col("features").cast("array<double>").as("y"))
        val served = items.crossJoin(broadcast(folded))
          .select(col("user_idx"), col("item_idx"),
            graft.functions.VectorFunctions.dot(col("x"), col("y")).as("sc"))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("user_idx"))
              .orderBy(desc("sc"), col("item_idx"))))
          .filter(col("rn") <= 3)
          .groupBy(col("user_idx"))
          .agg(sort_array(collect_list(struct(col("rn"), col("item_idx"))))
            .getField("item_idx").as("pred_folded"))
        val modelRecs = AlsTrainer
          .recommendLists(model, orig.select("user_idx").distinct(), 3)
          .select((col("user_idx") + 100000).as("user_idx"),
            col("pred").as("pred_model"))
        served.join(modelRecs, Seq("user_idx"))
          .select(col("user_idx"),
            array_join(col("pred_folded").cast("array<string>"), ",")
              .as("pred_folded"),
            size(array_intersect(col("pred_folded"), col("pred_model")))
              .cast("long").as("overlap3"))
          .orderBy("user_idx")
      },
      None,
      needs = Seq(als)),

    // M13: popularity-baseline recommender + hit-rate eval — the sanity
    // anchor every recsys eval needs before trusting a model's number
    // (an ALS hit rate only means something relative to "just recommend
    // the popular stuff"). Leakage-safe by construction: popularity is
    // counted on the temporal TRAIN half only (c10's integer-micros
    // midpoint cutoff), hits measured on held-out val users. EXACTLY
    // oracled — unlike the m4/m5 model outputs, a popularity baseline is
    // pure counting, so the driver hash pins it. Scale shape: the top-20
    // is TakeOrdered (no global sort), its rank a TinyWindow over the
    // 20-row frame; the big val set is filtered MAP-SIDE by a broadcast
    // semi-join on the recommended items before its (u,i) distinct, so
    // the only full-width val shuffle is the one distinct-user count
    // (approx_count_distinct is the documented 100-TB swap).
    Q("m13_popularity_baseline",
      (s, d) => {
        // the interaction frame is MATERIALIZED: it is a FACT-FACT join
        // (lineitem x orders) referenced by the cutoff aggregate, the
        // train-side popularity, and both validation consumers — the
        // unmaterialized plan re-executed the join per reference,
        // scanning EACH fact table eight times (round-14 scan census);
        // one write of the joined frame replaces seven join re-runs
        val inter = graft.Scratch.cut(s, s"m13_inter_${graft.Scratch.key(d)}")(
          lineitem(s, d)
            .select(col("l_orderkey"), col("l_partkey"))
            .join(orders(s, d).select(col("o_orderkey"), col("o_custkey"),
              unix_micros(col("o_orderdate").cast("timestamp")).as("tus")),
              col("l_orderkey") === col("o_orderkey"))
            .select(col("o_custkey").as("u"), col("l_partkey").as("i"),
              col("tus")))
        val cut = inter.agg(expr("(min(tus) + max(tus)) div 2").as("cut"))
        val withCut = inter.crossJoin(broadcast(cut))
        val pop = withCut.filter(col("tus") < col("cut"))
          .groupBy(col("i")).agg(count(lit(1)).as("train_cnt"))
          .orderBy(desc("train_cnt"), col("i")).limit(20)
          .withColumn("rank", row_number().over(
            // 20 rows by construction (limit above)
            graft.operators.TinyWindow.total(col("i"))(
              col("train_cnt").desc, col("i"))).cast("long"))
        val valAll = withCut.filter(col("tus") >= col("cut"))
        val valHits = valAll
          .join(broadcast(pop.select(col("i"))), Seq("i"), "left_semi")
          .select(col("u"), col("i")).distinct()
          .groupBy(col("i")).agg(count(lit(1)).as("val_users_hit"))
        val nv = valAll.agg(count_distinct(col("u")).as("n_val_users"))
        pop.join(valHits, Seq("i"), "left")
          .crossJoin(broadcast(nv))
          .select(col("rank"), col("i").as("p_partkey"), col("train_cnt"),
            coalesce(col("val_users_hit"), lit(0L)).as("val_users_hit"),
            col("n_val_users"))
          .orderBy("rank")
      },
      Some("""WITH inter AS (
             |  SELECT o.o_custkey AS u, l.l_partkey AS i,
             |    epoch_us(o.o_orderdate) AS tus
             |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |), c AS (SELECT (min(tus) + max(tus)) // 2 AS cut FROM inter),
             |pop AS (
             |  SELECT i, CAST(count(*) AS BIGINT) AS train_cnt,
             |    CAST(row_number() OVER (ORDER BY count(*) DESC, i)
             |      AS BIGINT) AS rank
             |  FROM inter CROSS JOIN c WHERE tus < cut
             |  GROUP BY i QUALIFY rank <= 20
             |), val AS (
             |  SELECT DISTINCT u, i FROM inter CROSS JOIN c WHERE tus >= cut
             |), hits AS (
             |  SELECT p.i, CAST(count(v.u) AS BIGINT) AS val_users_hit
             |  FROM pop p LEFT JOIN val v ON p.i = v.i GROUP BY p.i
             |), nv AS (
             |  SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_val_users
             |  FROM val)
             |SELECT p.rank, p.i AS p_partkey, p.train_cnt,
             |  h.val_users_hit, nv.n_val_users
             |FROM pop p JOIN hits h ON p.i = h.i CROSS JOIN nv
             |ORDER BY p.rank""".stripMargin)),

    // M14: precision/recall threshold sweep — the tuning table every
    // classifier-gated filter ships with (c5's quality gate, t1's
    // language filter): at each candidate threshold over a DETERMINISTIC
    // score (t1's en-marker ratio; label = the recorded lang), the full
    // confusion row plus integer-scaled precision/recall/F1. Scale
    // shape: ONE corpus scan collapses to per-(score, label) counts
    // (map-side combine; the score domain is the x1000 ratio grid, a few
    // hundred values), and the 6-threshold sweep is broadcast algebra on
    // that tiny frame — the corpus is NOT rescanned per threshold. The
    // nullif/coalesce guard (empty prediction set => precision 10000)
    // is stated identically on both engines. TP+FN is threshold-
    // invariant by construction — Round11LawsSpec pins that and the
    // recall monotonicity.
    Q("m14_pr_curve",
      (s, d) => {
        val sc = Tables.tokenizedDocs(s, d).select(
          (col("lang") === "en").cast("int").as("is_en"),
          expr("size(filter(w, t -> t in ('the','a','of'))) * 1000 div size(w)")
            .as("sc"))
        val counts = sc.groupBy(col("sc"), col("is_en"))
          .agg(count(lit(1)).as("n"))
        val th = s.range(0, 6).select((col("id") * 25).as("t"))
        counts.crossJoin(broadcast(th))
          .groupBy(col("t"))
          .agg(
            sum(when(col("sc") >= col("t") && col("is_en") === 1, col("n"))
              .otherwise(0L)).as("tp"),
            sum(when(col("sc") >= col("t") && col("is_en") === 0, col("n"))
              .otherwise(0L)).as("fp"),
            sum(when(col("sc") < col("t") && col("is_en") === 1, col("n"))
              .otherwise(0L)).as("fn"))
          .select(col("t"), col("tp"), col("fp"), col("fn"),
            coalesce(expr("tp * 10000 div nullif(tp + fp, 0)"), lit(10000L))
              .as("precision_x1e4"),
            expr("tp * 10000 div nullif(tp + fn, 0)").as("recall_x1e4"),
            coalesce(expr("2 * tp * 10000 div nullif(2 * tp + fp + fn, 0)"),
              lit(10000L)).as("f1_x1e4"))
          .orderBy("t")
      },
      Some("""WITH tok AS (
             |  SELECT lang, string_split(lower(text), ' ') AS w
             |  FROM documents WHERE len(string_split(lower(text), ' ')) >= 3
             |), sc AS (
             |  SELECT CAST(lang = 'en' AS INT) AS is_en,
             |    len(list_filter(w, t -> t IN ('the', 'a', 'of'))) * 1000
             |      // len(w) AS sc
             |  FROM tok
             |), th AS (SELECT CAST(unnest([0, 25, 50, 75, 100, 125]) AS BIGINT) AS t),
             |g AS (
             |  SELECT t,
             |    CAST(sum(CASE WHEN sc >= t AND is_en = 1 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS tp,
             |    CAST(sum(CASE WHEN sc >= t AND is_en = 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS fp,
             |    CAST(sum(CASE WHEN sc < t AND is_en = 1 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS fn
             |  FROM sc CROSS JOIN th GROUP BY t
             |)
             |SELECT t, tp, fp, fn,
             |  coalesce(tp * 10000 // nullif(tp + fp, 0), 10000) AS precision_x1e4,
             |  tp * 10000 // nullif(tp + fn, 0) AS recall_x1e4,
             |  coalesce(2 * tp * 10000 // nullif(2 * tp + fp + fn, 0), 10000)
             |    AS f1_x1e4
             |FROM g ORDER BY t""".stripMargin)),

    // M17: calibration (reliability) table + Brier score — the
    // complement of m14's PR curve: a classifier can rank well (high
    // AUC) and still be MIS-CALIBRATED, and a training pipeline that
    // thresholds on predicted probabilities needs the reliability
    // diagram (Niculescu-Mizil & Caruana 2005) before trusting them.
    // Score = cents normalized by the corpus max (pred_x1e6 = c·1e6 div
    // cmax, a per-row int64 quotient), label = purchase; rows bin by
    // equal-width score deciles (bin = least(9, c·10 div (cmax+1)) —
    // value-based, so both engines bin identically with no rank ties).
    // Per bin: mean predicted probability, empirical rate, their gap,
    // and the Brier contribution Σ(pred_x1e6 − label·1e6)² div n at the
    // x1e12 grain — the squared error rides DECIMAL(38,0) vs HUGEINT
    // (1e12 per row · 1e13 rows = 1e25; HeadroomAudit carries the
    // bound). Scale shape: one 1-row max aggregate broadcast to one
    // partial-combining groupBy over the fact scan — 10 output rows.
    Q("m17_calibration",
      (s, d) => {
        val ev = events(s, d).select(
          round(col("value") * 100).cast("long").as("c"),
          (col("event_type") === "purchase").cast("long").as("label"))
        val mx = ev.agg(max(col("c")).as("cmax"))
        ev.crossJoin(broadcast(mx))
          .select(least(lit(9L), expr("c * 10 div (cmax + 1)")).as("bin"),
            expr("c * 1000000 div cmax").as("pred_x1e6"),
            col("label"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            expr("sum(CAST(pred_x1e6 AS DECIMAL(38,0))) div count(1)")
              .as("mean_pred_x1e6"),
            expr("sum(CAST(label AS DECIMAL(38,0))) * 1000000 div count(1)")
              .as("emp_rate_x1e6"),
            expr("""sum(CAST(pred_x1e6 - label * 1000000 AS DECIMAL(38,0))
                   |  * CAST(pred_x1e6 - label * 1000000 AS DECIMAL(38,0)))
                   |  div count(1)""".stripMargin).as("brier_x1e12"))
          .select(col("bin"), col("n"), col("mean_pred_x1e6"),
            col("emp_rate_x1e6"),
            (col("emp_rate_x1e6") - col("mean_pred_x1e6")).as("gap_x1e6"),
            col("brier_x1e12"))
          .orderBy("bin")
      },
      Some("""WITH ev AS (
             |  SELECT CAST(round(value * 100) AS BIGINT) AS c,
             |    CAST(event_type = 'purchase' AS BIGINT) AS label
             |  FROM events
             |), mx AS (
             |  SELECT max(c) AS cmax FROM ev
             |), b AS (
             |  SELECT least(9, c * 10 // (cmax + 1)) AS bin,
             |    c * 1000000 // cmax AS pred_x1e6, label
             |  FROM ev CROSS JOIN mx
             |), g AS (
             |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CAST(pred_x1e6 AS HUGEINT)) // count(*) AS BIGINT)
             |      AS mean_pred_x1e6,
             |    CAST(sum(CAST(label AS HUGEINT)) * 1000000 // count(*)
             |      AS BIGINT) AS emp_rate_x1e6,
             |    CAST(sum(CAST(pred_x1e6 - label * 1000000 AS HUGEINT)
             |        * CAST(pred_x1e6 - label * 1000000 AS HUGEINT))
             |      // count(*) AS BIGINT) AS brier_x1e12
             |  FROM b GROUP BY bin
             |)
             |SELECT bin, n, mean_pred_x1e6, emp_rate_x1e6,
             |  emp_rate_x1e6 - mean_pred_x1e6 AS gap_x1e6, brier_x1e12
             |FROM g ORDER BY bin""".stripMargin)),

    // M18: cumulative gains / lift table — the targeting readout next to
    // m14's PR curve and m17's calibration: rank every row by score
    // descending, cut into rank deciles, and report what fraction of all
    // positives the top k deciles capture (and the lift over random).
    // The rank is GlobalRank's two-phase row number under the TOTAL
    // order (c DESC, event_id) — deciles are exact rank arithmetic
    // (rk−1)·10 div N, so both engines bin identically with zero tie
    // ambiguity. Capture and lift are exact integer quotients: cum_pos·N
    // ≤ 1e26 rides DECIMAL(38,0) vs HUGEINT, and since rank deciles
    // guarantee cum_n ≥ N div 10, the lift quotient is ≤ ~1.1e7
    // (HeadroomAudit carries the bound). Scale shape: the 3-column
    // scored projection is materialized once (GlobalRank's two phases
    // and the totals frame re-read the scratch parquet, never the fact
    // table — PlanSpec pins zero fact scans); the cumulative window
    // runs over the 10-row decile frame only.
    Q("m18_gains_table",
      (s, d) => {
        import graft.operators.GlobalRank
        val dir = graft.Scratch.dir(s, "m18_scored")
        events(s, d).select(col("event_id"),
            round(col("value") * 100).cast("long").as("c"),
            (col("event_type") === "purchase").cast("long").as("label"))
          .write.mode("overwrite").parquet(dir)
        val ev = s.read.parquet(dir)
        val ranked = GlobalRank.withRowNumber(ev,
          Seq(col("c").desc, col("event_id").asc), "rk")
        val tot = ev.agg(count(lit(1)).as("nn"), sum(col("label")).as("pp"))
        val dec = ranked.crossJoin(broadcast(tot))
          .select(expr("(rk - 1) * 10 div nn").as("decile"), col("label"),
            col("nn"), col("pp"))
          .groupBy(col("decile"), col("nn"), col("pp"))
          .agg(count(lit(1)).as("n"), sum(col("label")).as("pos"))
        // the cumulative window runs over <= 10 decile rows — bounded by
        // the decile count, not the data (TinyWindow names the claim)
        val w = graft.operators.TinyWindow.total(col("decile"))(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        dec.withColumn("cum_n", sum(col("n")).over(w))
          .withColumn("cum_pos", sum(col("pos")).over(w))
          .select(col("decile"), col("n"), col("pos"), col("cum_pos"),
            expr("""CAST(cum_pos AS DECIMAL(38,0)) * 1000000
                   | div nullif(pp, 0)""".stripMargin).as("capture_x1e6"),
            expr("""CAST(cum_pos AS DECIMAL(38,0)) * nn * 1000000
                   | div nullif(CAST(pp AS DECIMAL(38,0)) * cum_n, 0)"""
              .stripMargin).as("lift_x1e6"))
          .orderBy("decile")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS c,
             |    CAST(event_type = 'purchase' AS BIGINT) AS label
             |  FROM events
             |), rk AS (
             |  SELECT label,
             |    row_number() OVER (ORDER BY c DESC, event_id) AS rk
             |  FROM ev
             |), tot AS (
             |  SELECT CAST(count(*) AS BIGINT) AS nn,
             |    CAST(sum(label) AS BIGINT) AS pp
             |  FROM ev
             |), dec AS (
             |  SELECT (rk - 1) * 10 // nn AS decile, label, nn, pp
             |  FROM rk CROSS JOIN tot
             |), g AS (
             |  SELECT decile, nn, pp, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(label) AS BIGINT) AS pos
             |  FROM dec GROUP BY 1, 2, 3
             |), cum AS (
             |  SELECT decile, n, pos, nn, pp,
             |    CAST(sum(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
             |      AS BIGINT) AS cum_n,
             |    CAST(sum(pos) OVER (ORDER BY decile
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
             |  FROM g
             |)
             |SELECT decile, n, pos, cum_pos,
             |  CAST(CAST(cum_pos AS HUGEINT) * 1000000 // nullif(pp, 0)
             |    AS BIGINT) AS capture_x1e6,
             |  CAST(CAST(cum_pos AS HUGEINT) * nn * 1000000
             |    // nullif(CAST(pp AS HUGEINT) * cum_n, 0) AS BIGINT)
             |    AS lift_x1e6
             |FROM cum ORDER BY decile""".stripMargin)),

    // M19: ROC AUC, exact (Hanley & McNeil 1982 via the Mann-Whitney
    // identity AUC = U/(n1·n0) — a29's statistic re-read as a ranking
    // metric). m14 gives the PR curve at 6 thresholds; AUC is the
    // threshold-free summary every classifier eval reports next to it.
    // No per-row ranks are materialized: group rows to SCORE LEVELS
    // (m14's integer stopword-density score, ≤ 1001 distinct values),
    // take one running total of negatives across levels, and fold the
    // tie-aware identity 2·AUC·n1·n0 = Σ_s pos_s·(2·cumneg_<s + neg_s)
    // = Σ_s pos_s·(2·cumneg_≤s − neg_s) — ties contribute half, as the
    // trapezoid does — all in exact integers; auc emits as the x1e6
    // truncating quotient. Scale shape: ONE fact scan partial-combines
    // to the score-level frame, which is MATERIALIZED to scratch —
    // GlobalRank's two-phase pass references its input twice (offsets
    // + main side) and would recompute the fact aggregate without the
    // cut (the w19/b11 discipline; PlanSpec pins the zero-fact-scan
    // consumer); the running total then runs over ≤ 1001 parquet rows
    // (never a single-partition window over the corpus) and the final
    // fold is a 1-row aggregate riding DECIMAL(38,0)/HUGEINT
    // (HeadroomAudit carries the bound).
    Q("m19_roc_auc",
      (s, d) => {
        import graft.operators.GlobalRank
        val dir = graft.Scratch.dir(s, s"m19_lvl_${graft.Scratch.key(d)}")
        Tables.tokenizedDocs(s, d).select(
            (col("lang") === "en").cast("long").as("is_en"),
            expr("size(filter(w, t -> t in ('the','a','of'))) * 1000 div size(w)")
              .as("sc"))
          .groupBy(col("sc"))
          .agg(sum(col("is_en")).as("pos"),
            sum(lit(1L) - col("is_en")).as("neg"))
          .write.mode("overwrite").parquet(dir)
        val byScore = s.read.parquet(dir)
        GlobalRank.withRankAndRunningTotals(byScore,
            Seq(col("sc").asc), Seq("neg"), "sr", Seq("cum_neg"))
          .agg(sum(col("pos")).cast("long").as("n_pos"),
            sum(col("neg")).cast("long").as("n_neg"),
            sum(col("pos").cast("decimal(38,0)")
              * (col("cum_neg") * 2 - col("neg"))).as("num2"))
          .select(col("n_pos"), col("n_neg"),
            expr("""CAST(num2 * 1000000 div nullif(
                   |  2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg, 0)
                   |  AS BIGINT)""".stripMargin).as("auc_x1e6"))
      },
      Some("""WITH tok AS (
             |  SELECT lang, string_split(lower(text), ' ') AS w
             |  FROM documents
             |  WHERE len(string_split(lower(text), ' ')) >= 3
             |), sc AS (
             |  SELECT CAST(lang = 'en' AS BIGINT) AS is_en,
             |    len(list_filter(w, t -> t IN ('the', 'a', 'of'))) * 1000
             |      // len(w) AS sc
             |  FROM tok
             |), bys AS (
             |  SELECT sc, CAST(sum(is_en) AS BIGINT) AS pos,
             |    CAST(sum(1 - is_en) AS BIGINT) AS neg
             |  FROM sc GROUP BY sc
             |), cum AS (
             |  SELECT pos, neg,
             |    CAST(sum(neg) OVER (ORDER BY sc ROWS UNBOUNDED PRECEDING)
             |      AS BIGINT) AS cum_neg
             |  FROM bys
             |)
             |SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
             |  CAST(sum(neg) AS BIGINT) AS n_neg,
             |  CAST(sum(CAST(pos AS HUGEINT) * (2 * cum_neg - neg))
             |    * 1000000
             |    // nullif(2 * CAST(sum(pos) AS HUGEINT) * sum(neg), 0)
             |    AS BIGINT) AS auc_x1e6
             |FROM cum""".stripMargin))
  )

  /** NaN-safe integer scaling shared by the sweep queries (m7/m8/m9):
    * RankingEval.rmse returns NaN when no validation pair is scoreable —
    * surfaced as a -1 sentinel instead of letting BigDecimal(NaN) throw.
    */
  private def sweepX1e6(v: Double): Long =
    if (v.isNaN) -1L
    else BigDecimal(v * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
}
