package graft

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import graft.plans.RangeJoinRule

class RangeJoinRuleSpec extends SparkSpec {

  private lazy val rule = new RangeJoinRule(spark)

  private def points = {
    val s = spark
    import s.implicits._
    // includes exact bucket-edge values, negatives, and a far outlier
    Seq((1L, 0.0), (2L, 9.999), (3L, 10.0), (4L, 25.0), (5L, -7.5),
      (6L, 40.0), (7L, 1000.0)).toDF("pid", "x")
  }

  private def intervals = {
    val s = spark
    import s.implicits._
    // overlapping, touching, negative, and interval ending ON a bucket edge
    Seq((10L, 0.0, 10.0), (11L, 5.0, 26.0), (12L, -10.0, 0.0),
      (13L, 40.0, 40.0), (14L, 30.0, 50.0)).toDF("iid", "lo", "hi")
  }

  private def sortedRows(df: DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  // manual application with an explicit width: the session's installed
  // copy of the rule stays off, so `naive` is the un-rewritten reference
  private def ruleAt(w: Double) = new RangeJoinRule(spark, widthOverride = Some(w))

  test("inequality join rewrites to bucketed equi-join with identical results") {
    for ((loOp, hiOp) <- Seq[((org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
        (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column)](
      (_ >= _, _ < _), (_ > _, _ <= _), (_ >= _, _ <= _), (_ > _, _ < _))) {
      val naive = points.join(intervals,
        loOp(col("x"), col("lo")) && hiOp(col("x"), col("hi")))
      val rewritten = ruleAt(10.0)(naive.queryExecution.analyzed)
      assert(rewritten.toString.contains("sequence"),
        "rule did not fire:\n" + rewritten)
      val df = GraftBridge.ofRows(spark, rewritten)
      assert(sortedRows(df) == sortedRows(naive),
        "rewritten results differ from the naive inequality join")
      val phys = df.queryExecution.executedPlan.toString
      assert(!phys.contains("BroadcastNestedLoop") && !phys.contains("CartesianProduct"),
        "rewrite still planned as a nested loop:\n" + phys.take(1000))
    }
  }

  test("rewrite also fires when the interval side is on the left") {
    val naive = intervals.join(points,
      col("x") >= col("lo") && col("x") < col("hi"))
    val rewritten = ruleAt(10.0)(naive.queryExecution.analyzed)
    assert(rewritten.toString.contains("sequence"), rewritten.toString)
    assert(sortedRows(GraftBridge.ofRows(spark, rewritten)) == sortedRows(naive))
  }

  test("timestamp ranges bucket in seconds (event-in-validity-window join)") {
    val s = spark
    import s.implicits._
    def ts(m: Int) = new java.sql.Timestamp(m * 60_000L)
    val evs = Seq((1L, ts(5)), (2L, ts(30)), (3L, ts(59)), (4L, ts(60)),
      (5L, ts(200))).toDF("eid", "at")
    val windows = Seq((10L, ts(0), ts(60)), (11L, ts(45), ts(90)),
      (12L, ts(150), ts(240))).toDF("wid", "w_from", "w_to")
    val naive = evs.join(windows,
      col("at") >= col("w_from") && col("at") < col("w_to"))
    val rewritten = ruleAt(600.0)(naive.queryExecution.analyzed) // 10-min buckets
    assert(rewritten.toString.contains("sequence"), rewritten.toString)
    assert(sortedRows(GraftBridge.ofRows(spark, rewritten)) == sortedRows(naive))
  }

  test("mixed point/bound families are left alone (units would disagree)") {
    val s = spark
    import s.implicits._
    val pts = Seq((1L, new java.sql.Timestamp(60_000L))).toDF("pid", "at")
    val iv = Seq((10L, 0.0, 100.0)).toDF("iid", "lo", "hi")
    // analyzer casts make this legal SQL; the rule must not bucket a
    // timestamp point against numeric bounds
    val naive = pts.join(iv,
      col("at").cast("double") >= col("lo") && col("at").cast("double") < col("hi"))
    // the point is a cast expression, not a bare attribute -> untouched
    assert(ruleAt(10.0)(naive.queryExecution.analyzed).toString
      == naive.queryExecution.analyzed.toString)
  }

  test("idempotent: the rewritten join has an equi conjunct, so a second " +
      "pass leaves it unchanged") {
    val naive = points.join(intervals,
      col("x") >= col("lo") && col("x") < col("hi"))
    val once = ruleAt(10.0)(naive.queryExecution.analyzed)
    val twice = ruleAt(10.0)(once)
    assert(once.toString == twice.toString)
  }

  test("guards: no conf, equi conjunct present, or extra conjuncts -> untouched") {
    // width unset
    val naive = points.join(intervals,
      col("x") >= col("lo") && col("x") < col("hi"))
    assert(rule(naive.queryExecution.analyzed).toString
      == naive.queryExecution.analyzed.toString)
    // an equi conjunct links the sides: hash join handles it already
    val equi = points.join(intervals,
      col("pid") === col("iid") && col("x") >= col("lo") && col("x") < col("hi"))
    assert(ruleAt(10.0)(equi.queryExecution.analyzed).toString
      == equi.queryExecution.analyzed.toString)
    // three range conjuncts: out of the rule's declared scope
    val three = points.join(intervals,
      col("x") >= col("lo") && col("x") < col("hi") && col("x") < lit(100.0))
    assert(ruleAt(10.0)(three.queryExecution.analyzed).toString
      == three.queryExecution.analyzed.toString)
  }

  test("extension installs the rule") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
    val rules = GraftBridge.optimizerRules(ext, spark)
    assert(rules.exists(_.isInstanceOf[RangeJoinRule]))
  }

  test("installed in the session, the conf turns the rewrite on for any " +
      "query, with the naive join's results") {
    val naive = points.join(intervals,
      col("x") >= col("lo") && col("x") < col("hi"))
    val expected = sortedRows(naive)
    val df = withConf(rule.widthConf, Some("10.0")) {
      val df = points.join(intervals,
        col("x") >= col("lo") && col("x") < col("hi"))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("sequence"), "installed rule did not fire:\n" + plan)
      df
    }
    assert(sortedRows(df) == expected)
  }

  test("explicit width override fires without touching session conf " +
      "(the j10 manual-application path)") {
    assert(spark.conf.getOption(rule.widthConf).isEmpty)
    val overridden = new RangeJoinRule(spark, widthOverride = Some(10.0))
    val naive = points.join(intervals,
      col("x") >= col("lo") && col("x") < col("hi"))
    val rewritten = overridden(naive.queryExecution.analyzed)
    assert(rewritten.toString.contains("sequence"), "override did not fire")
    assert(sortedRows(GraftBridge.ofRows(spark, rewritten)) == sortedRows(naive))
    // and the conf is STILL unset — nothing leaked into the session
    assert(spark.conf.getOption(rule.widthConf).isEmpty)
  }

  test("null interval bounds drop the row (naive semantics), never hit " +
      "the bucket-cap error branch") {
    val s = spark
    import s.implicits._
    val withNulls = Seq(
      (20L, Some(0.0), Some(10.0)),
      (21L, None: Option[Double], Some(10.0)),  // null lo
      (22L, Some(0.0), None: Option[Double]))   // null hi
      .toDF("iid", "lo", "hi")
    val overridden = new RangeJoinRule(spark, widthOverride = Some(10.0))
    val naive = points.join(withNulls,
      col("x") >= col("lo") && col("x") < col("hi"))
    val rewritten = overridden(naive.queryExecution.analyzed)
    assert(rewritten.toString.contains("sequence"), "rule did not fire")
    assert(sortedRows(GraftBridge.ofRows(spark, rewritten)) == sortedRows(naive))
  }

  test("inverted intervals (lo > hi) expand to zero buckets — never a " +
      "descending-sequence explosion, never the cap error") {
    val s = spark
    import s.implicits._
    // the inverted row spans 1e9 width: without the ordered guard,
    // Sequence would count DOWN through 1e8 buckets for that single row
    val inverted = Seq((30L, 0.0, 10.0), (31L, 1.0e9, 0.0)).toDF("iid", "lo", "hi")
    spark.conf.set(rule.maxBucketsConf, "1000")
    try {
      val overridden = new RangeJoinRule(spark, widthOverride = Some(10.0))
      val naive = points.join(inverted,
        col("x") >= col("lo") && col("x") < col("hi"))
      val rewritten = overridden(naive.queryExecution.analyzed)
      assert(rewritten.toString.contains("sequence"), "rule did not fire")
      assert(sortedRows(GraftBridge.ofRows(spark, rewritten)) == sortedRows(naive))
    } finally spark.conf.unset(rule.maxBucketsConf)
  }

  test("an interval spanning more than the bucket cap raises a clear " +
      "error instead of exploding") {
    spark.conf.set(rule.maxBucketsConf, "50")
    try {
      // width 0.1 over the [30, 50] interval = 200 buckets > cap 50
      val overridden = new RangeJoinRule(spark, widthOverride = Some(0.1))
      val naive = points.join(intervals,
        col("x") >= col("lo") && col("x") < col("hi"))
      val rewritten = overridden(naive.queryExecution.analyzed)
      val e = intercept[Throwable] {
        GraftBridge.ofRows(spark, rewritten).collect()
      }
      def messages(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(messages(e).exists(_.contains("graft range-join")),
        "blowup not converted to the actionable error: " + messages(e).mkString(" | "))
    } finally spark.conf.unset(rule.maxBucketsConf)
  }
}
