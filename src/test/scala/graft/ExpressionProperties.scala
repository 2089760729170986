package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.functions.TextFunctions._

/** Randomized equality checks: the native compiled expressions must be
  * bit-identical to their composed-HOF reference forms on arbitrary text,
  * not just the curated fixtures (MinHashSigSpec/SimHash32ExprSpec cover
  * those). One Spark job over a generated corpus instead of a job per
  * scalacheck case — same coverage, ~100x fewer jobs.
  */
class ExpressionProperties extends SparkSpec {

  private val genDoc: Gen[String] = for {
    n <- Gen.choose(0, 30)
    words <- Gen.listOfN(n, Gen.oneOf(
      Gen.alphaLowerStr.map(_.take(8)),
      Gen.oneOf("the", "a", "und", "la", "Ünïcodé", "™", "42", ""),
      Gen.listOfN(3, Gen.choose(32.toChar, 255.toChar)).map(_.mkString)))
  } yield words.mkString(" ")

  private lazy val corpus = {
    val s = spark
    import s.implicits._
    val seed = org.scalacheck.rng.Seed(20260812L)
    val docs = Iterator.iterate(seed)(_.next)
      .zipWithIndex.take(300)
      .map { case (sd, i) =>
        (i.toLong, genDoc(org.scalacheck.Gen.Parameters.default, sd).getOrElse(""))
      }.toSeq
    docs.toDF("id", "text")
  }

  test("minhash native == composed HOF form on 300 random documents") {
    val both = corpus.select(
      minhashSigNative(col("text"), 16).as("native"),
      minhashSignature(shingleHashes(col("text")), 16).as("composed"))
    assert(both.filter(not(col("native") <=> col("composed"))).isEmpty)
  }

  test("simhash native == composed HOF form on 300 random documents") {
    val both = corpus
      .select(col("text"), tokens(col("text")).as("w"))
      .select(
        simhashNative(col("text")).as("native"),
        simhash32(col("w")).as("composed"))
    assert(both.filter(not(col("native") <=> col("composed"))).isEmpty)
  }

  test("hash32 native == composed md5 idiom on 300 random documents") {
    // the session's rewrite would turn the composed form into the native one
    withoutMd5Rewrite {
      val both = corpus.select(
        hash32(col("text")).as("native"),
        expr("cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)").as("composed"))
      assert(both.queryExecution.optimizedPlan.toString.contains("md5("))
      assert(both.filter(not(col("native") <=> col("composed"))).isEmpty)
    }
  }

  test("shingles native == composed HOF form on 300 random documents, n=1..4") {
    for (n <- 1 to 4) {
      val both = corpus.select(
        shinglesNative(col("text"), n).as("native"),
        shingles(tokens(col("text")), n).as("composed"))
      assert(both.filter(not(col("native") <=> col("composed"))).isEmpty,
        s"shingles mismatch at n=$n")
    }
  }
}
