package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.deflateLen

/** Laws for the DeflateLen expression and the t19 compression-ratio quality
  * signal it powers. The signal is rows-only by design (no SQL engine
  * reproduces another zlib's exact output length), so this spec carries the
  * correctness weight the driver hash carries for oracled queries:
  * ordering laws (repetition compresses), the hard DEFLATE envelope,
  * determinism, null propagation, and SQL-function == column-API parity.
  */
class DeflateLenSpec extends SparkSpec {

  private def lenOf(strs: String*): Seq[Long] = {
    val s = spark
    import s.implicits._
    strs.toDF("t").select(deflateLen(col("t"))).collect().map(_.getLong(0)).toSeq
  }

  test("repetitive text compresses far below natural text, below random") {
    val repetitive = "spam " * 200                       // 1000 bytes
    val natural = ("the quick brown fox jumps over the lazy dog and then " +
      "considers a second, better plan for the afternoon ") * 10 // ~1050 b
    // deterministic pseudo-random bytes: md5 hex chains (incompressible-ish)
    val random = (1 to 32).map(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"seed$i".getBytes).map("%02x".format(_)).mkString).mkString
    val Seq(lr, ln2, lx) = lenOf(repetitive, natural, random)
    assert(lr < ln2 && ln2 < lx,
      s"ordering law violated: repetitive=$lr natural=$ln2 random=$lx")
    // repetition collapses: under 5% of raw size
    assert(lr * 20 < repetitive.length, s"'spam'*200 deflated to $lr")
  }

  test("self-concatenation is sub-additive (the dedup-signal direction)") {
    val doc = "a moderately sized document body with some unique words"
    val Seq(one, two) = lenOf(doc, doc + " " + doc)
    assert(two < 2 * one, s"concat law violated: $one vs $two")
  }

  test("DEFLATE envelope: 0 < len <= raw + 5*ceil(raw/16384) + 11, empty ok") {
    val s = spark
    import s.implicits._
    val out = Tables.documents(spark, sfDir)
      .select(octet_length(col("text")).cast("long").as("raw"),
        deflateLen(col("text")).as("dl"))
    assert(out.filter(col("dl") <= 0).isEmpty)
    assert(out.filter(col("dl") >
      col("raw") + lit(5) * ceil(col("raw") / 16384.0).cast("long") + lit(11))
      .isEmpty)
    // empty input still emits a valid (tiny) deflate stream
    val empty = Seq("").toDF("t").select(deflateLen(col("t")))
      .collect().head.getLong(0)
    assert(empty > 0 && empty <= 11, s"empty-string deflate len $empty")
  }

  test("deterministic across repeated evaluation and partitionings") {
    val a = Tables.documents(spark, sfDir)
      .select(col("doc_id"), deflateLen(col("text")).as("dl"))
    val b = Tables.documents(spark, sfDir).repartition(7)
      .select(col("doc_id"), deflateLen(col("text")).as("dl"))
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("null propagates; SQL function matches the column API") {
    val s = spark
    import s.implicits._
    val df = Seq(Some("abc abc abc"), None).toDF("t")
    val viaCol = df.select(deflateLen(col("t")).as("dl"))
    val viaSql = df.selectExpr("graft_deflate_len(t) AS dl")
    assert(viaCol.except(viaSql).isEmpty && viaSql.except(viaCol).isEmpty)
    assert(viaCol.filter(col("dl").isNull).count() === 1L)
  }

  test("t19: ratio arithmetic, bound_ok everywhere, keep is integer-decided") {
    val out = SparkEntry.queries("t19_compression_ratio")(spark, sfDir).cache()
    try {
      assert(out.count() > 0)
      assert(out.filter(col("bound_ok") =!= 1).isEmpty,
        "a row violated the DEFLATE envelope")
      assert(out.filter(
        col("ratio_x1000") =!= expr("deflate_len * 1000 div raw_len")).isEmpty)
      assert(out.filter(
        col("keep") =!= (col("ratio_x1000") >= 350).cast("int")).isEmpty)
    } finally out.unpersist()
  }
}
