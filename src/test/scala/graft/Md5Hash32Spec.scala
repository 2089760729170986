package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.hash32

class Md5Hash32Spec extends SparkSpec {

  test("native expression equals the composed built-in form on real text") {
    // the session's rewrite would turn the composed form into the native one
    withoutMd5Rewrite {
      val df = Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          hash32(col("text")).as("native"),
          conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long").as("composed"))
      assert(df.queryExecution.optimizedPlan.toString.contains("md5("))
      assert(df.filter(col("native") =!= col("composed")).count() == 0)
      assert(df.count() > 0)
    }
  }

  test("known value and null/empty handling") {
    val s = spark
    import s.implicits._
    val df = Seq(Some("hello"), Some(""), None).toDF("s")
      .select(col("s"), hash32(col("s")).as("h"))
    val rows = df.collect()
    // md5("hello") = 5d41402a... -> 0x5d41402a
    assert(rows(0).getLong(1) == 0x5d41402aL)
    // md5("") = d41d8cd9...
    assert(rows(1).getLong(1) == 0xd41d8cd9L)
    assert(rows(2).isNullAt(1))
  }

  test("works inside higher-order-function lambdas") {
    val s = spark
    import s.implicits._
    val out = Seq(Seq("a", "b")).toDF("arr")
      .select(transform(col("arr"), t => hash32(t)).as("hs"))
      .head().getSeq[Long](0)
    assert(out.length == 2 && out.forall(h => h >= 0 && h <= 0xffffffffL))
  }
}
