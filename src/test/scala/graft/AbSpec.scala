package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The A/B harness's own checks: its result check passes equal variants,
  * names both sides of a disagreement and catches a result that moves
  * between runs; a failing cell does not stop the others; its replica
  * generator multiplies every fact table while keeping joins and
  * dimensions intact, also when it rebuilds over an older replica.
  */
class AbSpec extends SparkSpec {

  private val inputs = Seq("sf0.001" -> sfDir)
  private def statusCounts(d: String): DataFrame =
    Tables.orders(spark, d).groupBy("o_orderstatus").count()

  test("two identical variants pass and both are timed") {
    val c = Ab.Case("status", Seq(
      Ab.variant("a")((_, d) => statusCounts(d)),
      Ab.variant("b")((_, d) => statusCounts(d))))
    val lines = Ab.run(spark, 1, inputs, Seq(c))
    val rows = lines.tail.map(_.split("\\s+").toSeq)
    assert(rows.map(_(3)) == Seq("a", "b"))
    assert(rows.map(_.last).distinct == Seq(statusCounts(sfDir).count().toString))
  }

  test("planted control: a variant with one row changed fails, naming both") {
    val c = Ab.Case("status", Seq(
      Ab.variant("exact")((_, d) => statusCounts(d)),
      Ab.variant("planted")((_, d) => statusCounts(d).withColumn("count",
        when(col("o_orderstatus") === "F", col("count") + 1)
          .otherwise(col("count"))))))
    val e = intercept[IllegalStateException](Ab.run(spark, 1, inputs, Seq(c)))
    for (name <- Seq("sf0.001", "exact", "planted"))
      assert(e.getMessage.contains(name), e.getMessage)
  }

  test("a variant whose result moves between runs fails, naming the run") {
    var calls = 0
    val c = Ab.Case("status", Seq(Ab.variant("drift") { (_, d) =>
      calls += 1; statusCounts(d).withColumn("count", col("count") + calls)
    }))
    val e = intercept[IllegalStateException](Ab.run(spark, 2, inputs, Seq(c)))
    for (name <- Seq("sf0.001", "drift", "run 2"))
      assert(e.getMessage.contains(name), e.getMessage)
  }

  test("a failing cell prints an ERROR row and the next case still runs") {
    var ran = false
    val cases = Seq(
      Ab.Case("broken", Seq(Ab.variant("a")((_, d) =>
        Tables.table(spark, d, "no_such_table")))),
      Ab.Case("status", Seq(Ab.variant("a") { (_, d) =>
        ran = true; statusCounts(d)
      })))
    val e = intercept[IllegalStateException](Ab.run(spark, 1, inputs, cases))
    assert(ran)
    assert(e.getMessage.startsWith("1 cell(s) failed"), e.getMessage)
    assert(e.getMessage.contains("broken on sf0.001"), e.getMessage)
  }

  test("replica x2: facts doubled, dims equal, joins and text hold, also rebuilt") {
    val tmp = Files.createTempDirectory("ab_replica").toString
    val out = s"$tmp/x2"
    val facts = Seq("documents", "events", "orders", "lineitem", "embeddings")
    val dims = Seq("region", "nation", "supplier", "customer", "part")
    // two bases laid out as Spark writes tables, one directory each: a
    // rebuild from the second must replace the first's directory dims
    // (Spark reads only the top level of such a directory, so a copy
    // nested inside it would leave the old base's rows in place)
    val next = s"${sfDir.substring(0, sfDir.lastIndexOf('/'))}/sf0.01"
    val bases = Seq(sfDir, next).zipWithIndex.map { case (sf, i) =>
      for (t <- facts ++ dims)
        Tables.table(spark, sf, t).write.parquet(s"$tmp/base$i/$t.parquet")
      sf -> s"$tmp/base$i"
    }
    def check(sf: String, base: String): Unit = {
      assert(Ab.replica(spark, base, out, 2) == out)
      for (t <- facts)
        assert(Tables.table(spark, out, t).count() ==
          2 * Tables.table(spark, sf, t).count(), t)
      for (t <- dims) {
        val (a, b) = (Tables.table(spark, sf, t), Tables.table(spark, out, t))
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, t)
      }
      def joined(d: String) = Tables.lineitem(spark, d)
        .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
        .count()
      assert(joined(out) == 2 * joined(sf))
    }
    try {
      check(bases(0)._1, bases(0)._2)
      // the marker names the first base: the replica is rebuilt
      check(bases(1)._1, bases(1)._2)
      // rotating by one word changes any text with two distinct words
      val sf = bases(1)._1
      val docs = Tables.documents(spark, sf)
        .filter(size(array_distinct(split(col("text"), " "))) > 1)
        .orderBy("doc_id").head()
      val stride = Tables.documents(spark, sf).agg(max("doc_id")).head()
        .getLong(0) + 1
      val texts = Tables.documents(spark, out)
        .filter(col("doc_id").isin(docs.getAs[Long]("doc_id"),
          docs.getAs[Long]("doc_id") + stride))
        .orderBy("doc_id").collect().map(_.getAs[String]("text"))
      assert(texts.length == 2 && texts(0) == docs.getAs[String]("text"))
      assert(texts(1) != texts(0))
      assert(texts(1).split(" ").sorted.sameElements(texts(0).split(" ").sorted))
    } finally {
      val p = new Path(tmp)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
