package graft

import org.apache.spark.sql.{DataFrame, SparkSessionExtensions}
import org.apache.spark.sql.functions._
import graft.plans.{GraftExtensions, RewriteMd5Hash32}

class GraftExtensionsSpec extends SparkSpec {

  private def composedPlan = {
    val s = spark
    import s.implicits._
    Seq("hello", "world").toDF("s")
      .select(expr("cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint)").as("h"))
  }

  /** `df`'s longs as Spark's own md5 computes them: the rewrite is
    * excluded while `df` is planned and run, and the plan must show it.
    */
  private def reference(df: => DataFrame): Seq[Long] = withoutMd5Rewrite {
    val ref = df
    val plan = ref.queryExecution.optimizedPlan.toString
    assert(plan.contains("md5(") && !plan.contains("md5_hash32"), plan)
    ref.collect().map(_.getLong(0)).toSeq
  }

  test("rule rewrites the composed md5 idiom to the native expression") {
    val before = composedPlan.queryExecution.analyzed
    assert(!before.toString.contains("md5_hash32"))
    val after = RewriteMd5Hash32(before)
    assert(after.toString.contains("md5_hash32"), after.toString)
    // the analyzer's Cast(s AS binary) under md5 must be stripped, not fed
    // to Md5Hash32 (r2 bug: the rewrite kept the cast and eval threw
    // ClassCastException [B -> UTF8String on every use of the idiom)
    assert(!after.toString.contains("md5_hash32(cast("), after.toString)
  }

  test("rewritten plan EXECUTES and matches the composed form") {
    val s = spark
    import s.implicits._
    def df = Seq("hello", "", "a longer string with spaces", "Ünïcodé ™")
      .toDF("s")
      .selectExpr("cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint) as h")
    val expected = reference(df)
    val rewritten = RewriteMd5Hash32(df.queryExecution.analyzed)
    assert(rewritten.toString.contains("md5_hash32"), rewritten.toString)
    val got = org.apache.spark.sql.GraftBridge.ofRows(spark, rewritten)
      .collect().map(_.getLong(0)).toSeq
    assert(got == expected)
  }

  test("rewritten plan executes on a raw binary column too") {
    val s = spark
    import s.implicits._
    def df = Seq("hello".getBytes("UTF-8"), "world".getBytes("UTF-8"))
      .toDF("b")
      .selectExpr("cast(conv(substring(md5(b), 1, 8), 16, 10) as bigint) as h")
    val expected = reference(df)
    val rewritten = RewriteMd5Hash32(df.queryExecution.analyzed)
    assert(rewritten.toString.contains("md5_hash32"), rewritten.toString)
    val got = org.apache.spark.sql.GraftBridge.ofRows(spark, rewritten)
      .collect().map(_.getLong(0)).toSeq
    assert(got == expected)
  }

  test("rewrite preserves results exactly") {
    val s = spark
    import s.implicits._
    val df = Seq("hello", "", "a longer string with spaces").toDF("s")
    val composed = reference(df
      .selectExpr("cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint) as h"))
    val native = df.select(graft.functions.TextFunctions.hash32(col("s")))
      .collect().map(_.getLong(0)).toSeq
    assert(composed == native)
  }

  test("extension class injects the rule into a session builder") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val rules = org.apache.spark.sql.GraftBridge.optimizerRules(ext, spark)
    assert(rules.contains(RewriteMd5Hash32))
  }

  test("SQL functions: every native expression is callable from SQL text " +
      "and matches its column-API twin") {
    val s = spark
    import s.implicits._
    Seq("The quick Brown fox jumps over the lazy dog").toDF("t")
      .createOrReplaceTempView("ext_t")
    import graft.functions.TextFunctions
    val viaSql = spark.sql(
      """SELECT graft_md5_hash32(t) AS h,
        |  graft_shingles(t, 3) AS sh,
        |  graft_minhash_sig(t, 4) AS sig,
        |  graft_simhash32(t) AS sim,
        |  graft_nfc(t) AS n,
        |  graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp
        |FROM ext_t""".stripMargin).collect()(0)
    val viaCols = spark.table("ext_t").select(
      TextFunctions.hash32(col("t")).as("h"),
      TextFunctions.shinglesNative(col("t"), 3).as("sh"),
      TextFunctions.minhashSigNative(col("t"), 4).as("sig"),
      TextFunctions.simhashNative(col("t")).as("sim"),
      TextFunctions.nfc(col("t")).as("n"),
      graft.functions.VectorFunctions.dot(
        array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))).as("dp"))
      .collect()(0)
    assert(viaSql.toSeq == viaCols.toSeq,
      s"SQL surface diverged from column API:\n  sql: $viaSql\n  col: $viaCols")
  }

  test("graft_bloom_might_contain: SQL probe (scalar-subquery sketch) " +
      "matches the column-API probe") {
    val s = spark
    import s.implicits._
    import graft.operators.Bloom
    val bloom = Bloom.build(Seq("alpha", "beta", "gamma").toDF("v"), col("v"),
      expectedItems = 100L, numBits = Bloom.optimalNumBits(100L, 0.01))
    Seq("alpha", "delta", "gamma", "zeta").toDF("v")
      .createOrReplaceTempView("bloom_probe_t")
    Seq(bloom).toDF("bf").createOrReplaceTempView("bloom_sketch_t")
    val viaSql = spark.sql(
      """SELECT v, graft_bloom_might_contain(
        |  (SELECT bf FROM bloom_sketch_t), v) AS hit
        |FROM bloom_probe_t ORDER BY v""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toSeq
    val viaCol = spark.table("bloom_probe_t")
      .select(col("v"), Bloom.mightContain(bloom, col("v")).as("hit"))
      .orderBy("v")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toSeq
    assert(viaSql === viaCol,
      s"SQL bloom probe diverged:\n  sql: $viaSql\n  col: $viaCol")
    val hits = viaSql.toMap
    assert(hits("alpha") && hits("gamma"), "members must always probe true")
  }

  test("DESCRIBE FUNCTION shows name and usage (ExpressionInfo arg order)") {
    // regression pin: the 3-arg ExpressionInfo ctor is (className, db,
    // name) — using it put the usage text where the name belongs and
    // silently dropped the documentation
    val desc = spark.sql("DESCRIBE FUNCTION graft_shingles")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("Function: graft_shingles"), desc)
    assert(desc.contains("word n-gram shingles"), desc)
  }

  test("SQL functions reject a non-literal width argument") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_shingles('a b c', 1 + 1)").collect()
    }
    // the failure must be intLit's literal-only contract, not some
    // unrelated resolution error (e.g. the function not being registered)
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(messages.contains("integer literal"),
      s"expected intLit's rejection, got: $messages")
  }
}
