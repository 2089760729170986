package graft

import java.nio.file.Files

/** Differential for the r18 d10_fuzzy_pairs rewrite (distinct-name scoring
  * + per-name (pk_min, pk_min2, cnt) re-attach): the registered query must
  * equal the textbook ENTITY-level definition — for every entity, the
  * (min dist, then min partkey) match among same-noun entities at
  * levenshtein distance <= 2 — on a planted fixture that exercises every
  * arm of the factoring:
  *   - duplicate name where the probe IS the name's min pk (pk_min2 arm);
  *   - duplicate name where the probe is not the min (pk_min arm);
  *   - singleton name whose best match is a cross-name pair (dist 1/2);
  *   - singleton name with no candidate at all (absent from output);
  *   - dist tie across two names resolved by min pk ACROSS the union of
  *     both names' entities;
  *   - a dist-2 pair at the length-delta boundary (|len diff| = 2).
  * The replay is a plain O(n^2) driver loop with full (unbanded)
  * Wagner-Fischer, so it shares no code with the query under test.
  */
class FuzzyPairsSpec extends SparkSpec {

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  // (pk, name); noun = 2nd word. Planted arms documented above.
  private val rows = Seq(
    (10L, "red bolt"),    // dup name, pk_min     -> best (0, 11)
    (11L, "red bolt"),    // dup name, not min    -> best (0, 10)
    (12L, "red bolt"),    //                      -> best (0, 10)
    (20L, "rad bolt"),    // singleton, dist 1 to "red bolt" (pks 10..12)
    (30L, "rouge bolt"),  // singleton, no match within 2 of anything
    (40L, "blue gear"),   // dist-1 of 41 and 42's names
    (41L, "flue gear"),   // tie: dist 1 to both "blue gear" and "clue gear"
    (42L, "clue gear"),   //   -> min pk across both names wins
    (50L, "aa ring"),     // dist-2 pair at the length-delta boundary
    (51L, "aaba ring"),   // |len diff| = 2, dist = 2
    (60L, "zz plate"))    // singleton noun block: no candidate

  /** Runs d10 over the planted fixture, asserts it equals the brute force,
    * and returns the executed plan.
    */
  private def checkPlanted(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("fuzzy_fixture").toFile
    try {
      rows.toDF("p_partkey", "p_name")
        .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/part.parquet")
      val df = SparkEntry.queries("d10_fuzzy_pairs")(spark, dir.getAbsolutePath)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val noun = rows.map { case (pk, n) => pk -> n.split(" ")(1) }.toMap
      val want = rows.flatMap { case (pk1, n1) =>
        val cands = rows.filter { case (pk2, n2) =>
          pk2 != pk1 && noun(pk2) == noun(pk1) &&
            math.abs(n1.length - n2.length) <= 2 && lev(n1, n2) <= 2
        }.map { case (pk2, n2) => (lev(n1, n2).toLong, pk2) }
        if (cands.isEmpty) None
        else { val b = cands.min; Some((pk1, b._2, b._1)) }
      }.sortBy(_._1)
      assert(got == want,
        s"rewrite diverges from entity-level brute force:\n got=$got\nwant=$want")
      // the planted arms actually fired
      assert(want.exists { case (pk, pk2, d) => pk == 10L && pk2 == 11L && d == 0 })
      assert(want.exists { case (pk, pk2, d) => pk == 11L && pk2 == 10L && d == 0 })
      assert(want.exists { case (pk, _, d) => pk == 20L && d == 1 })
      assert(!want.exists(_._1 == 30L) && !want.exists(_._1 == 60L))
      assert(want.exists { case (pk, pk2, d) => pk == 41L && pk2 == 40L && d == 1 })
      assert(want.exists { case (pk, pk2, d) => pk == 50L && pk2 == 51L && d == 2 })
      df.queryExecution.executedPlan.toString
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(dir)
    }
  }

  test("d10 distinct-name rewrite == entity-level brute force on planted names") {
    checkPlanted()
  }

  test("d10 shuffle arm (broadcast joins disabled) == entity-level brute force") {
    // d10 carries no broadcast() hint, so with both size thresholds off
    // every join must plan as a shuffle join — the shape a corpus with
    // more distinct names than the threshold gets
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getAll.get(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try {
      val plan = checkPlanted()
      assert(!plan.contains("BroadcastExchange"),
        s"shuffle arm not exercised — a join still broadcasts:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
