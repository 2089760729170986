package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The Scratch.cut toggle changes PLANS, never results: every cut-bearing
  * query must produce identical rows with the shared frame materialized
  * (default) and with the live lineage (`spark.graft.cutMaterialize=false`).
  * This is the differential that licenses `AbMain crossover` to time
  * the two forms as the same query — the d16 `hashedAnchors` precedent
  * (ExactSubstrSpec).
  *
  * Coverage is MECHANIZED (ADVICE r15): the last test greps the main source
  * tree for `Scratch.cut` call sites and asserts every scratch-name prefix
  * found is owned by a query in [[Census.allCuts]] — a new cut site
  * that isn't toggled through the differential fails the build, instead of
  * silently joining an unverified tail like the round-15 sites did.
  */
class CutDifferentialSpec extends SparkSpec {

  test("cut queries: materialized results == live-lineage results") {
    // sorted row-set comparison: the toggle may legitimately change output
    // partitioning (and so collect order) for queries without a total sort
    def results(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sfDir)
        .collect().map(_.toString).toSeq.sorted
    for (name <- Census.allCuts) {
      val mat = withConf(Scratch.CutKey, Some("true"))(results(name))
      val live = withConf(Scratch.CutKey, Some("false"))(results(name))
      assert(mat == live,
        s"$name diverges between materialized and live lineage forms:\n" +
          s"  mat : ${mat.take(3).mkString(" | ")}\n" +
          s"  live: ${live.take(3).mkString(" | ")}")
    }
  }

  test("live d7/c17 frames built before either runs both execute") {
    // the live form rebuilds the label propagation per consumer; with one
    // shared checkpoint dir, building d7 overwrote the label files a c17
    // frame built earlier still read (FAILED_READ_FILE on execution)
    withConf(Scratch.CutKey, Some("false")) {
      val frames = Seq("c17_survivor_quality", "d7_dup_components")
        .map(n => n -> SparkEntry.queries(n)(spark, sfDir))
      for ((n, df) <- frames) assert(df.collect().nonEmpty, n)
    }
  }

  test("the toggle actually switches the plan (live form re-scans the fact)") {
    // d13 is the canonical case: 24 documents scans live, 0 in the
    // consumer plan when cut. If this stops discriminating, the toggle
    // is dead and the differential above proves nothing.
    withConf(Scratch.CutKey, Some("false")) {
      val live = SparkEntry.queries("d13_containment")(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(Census.scans(live).getOrElse("documents", 0) >= 10,
        "live d13 no longer multiplies documents scans — toggle broken?")
    }
    val mat = SparkEntry.queries("d13_containment")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(Census.scans(mat).getOrElse("documents", 0) == 0)
  }

  /** scratch-name prefix at each grep'd cut site -> the registered query
    * whose differential run above constructs that site. Shared frames list
    * their FIRST consumer (every sharer is in allCuts too).
    */
  private val siteOwner: Map[String, String] = Map(
    "a24_bv" -> "a24_winsorize", "a26_obs" -> "a26_chi_square",
    "a27_m" -> "a27_rank_correlation", "a28_bv" -> "a28_ks_test",
    "a29_bv" -> "a29_mann_whitney", "a30_bv" -> "a30_tukey_fences",
    "a31_obs" -> "a31_cramers_v", "a33_bv" -> "a33_mad_outliers",
    "c19_hist" -> "c19_dedup_report",
    "d13_sh" -> "d13_containment", "d13_cand" -> "d13_containment",
    "e4_q" -> "e4_ann_ivf", "e7_q" -> "e7_pq_adc", "e8_q" -> "e8_ivfpq",
    "e9_ins" -> "e9_ivf_maintain", "e9_q" -> "e9_ivf_maintain",
    "e11_cand" -> "e11_mmr_diverse",
    "e13_q" -> "e13_probe_sweep", "e13_exact" -> "e13_probe_sweep",
    "g1_maps" -> "g1_dominant_tag",
    "m13_inter" -> "m13_popularity_baseline",
    "t7_tf" -> "t7_tfidf", "t14_tok" -> "t14_unigram_surprisal",
    "t15_voc" -> "t15_vocab_coverage", "t17_sum" -> "t17_heavy_hitters",
    "t17_ex" -> "t17_heavy_hitters", "t18_tok" -> "t18_bm25",
    "t22_tok" -> "t22_bigram_surprisal", "t22_bg" -> "t22_bigram_surprisal",
    "t24_docs" -> "t24_heaps_law",
    "t25_tok" -> "t25_bigram_lift", "t25_uni" -> "t25_bigram_lift",
    "uchg" -> "u1_upsert", "ud2" -> "u10_mor_read",
    "w16_bins" -> "w16_changepoint", "w21_day" -> "w21_drawdown",
    // r17 sites whose by-name producer is an eager build (first consumer owns)
    "d7_comps" -> "c17_survivor_quality", "bpe6" -> "t16_bpe_merges",
    "lpa3" -> "g11_modularity", "lshb" -> "c11_quality_survivor")

  test("every Scratch.cut call site in main source is owned by a toggled query") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val sources =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala")).toSeq
      finally walk.close()
    // literal sites name the frame as s"<prefix>_${Scratch.key(d)}" (with
    // or without the graft. qualifier, across any line breaks — ADVICE
    // r16: the grep must tolerate formatting, or a reflowed call site
    // would stop matching `site` while still counting in `rawSites` and
    // fail the count assertion with a message about wrappers);
    // parameterized sites (GenrePipeline.dominant's cutName) are matched
    // at their QUERY-side literal (g1_maps in PipelineQueries) instead.
    val site =
      """Scratch\.cut\(\s*[^)]*?s"([A-Za-z0-9_]+)_\$\{(?:graft\.)?Scratch\.key""".r
    val nameArg =
      """cutName\s*=\s*Some\(\s*s"([A-Za-z0-9_]+)_\$\{(?:graft\.)?Scratch\.key""".r
    val texts = sources.map(Files.readString)
    val prefixes = texts.flatMap { text =>
      site.findAllMatchIn(text).map(_.group(1)) ++
        nameArg.findAllMatchIn(text).map(_.group(1))
    }.toSet
    assert(prefixes.nonEmpty, "grep found no cut sites — regex rotted?")
    // completeness of the grep itself: every raw `Scratch.cut(` occurrence
    // must be either a literal-name site the regex extracted or one of the
    // KNOWN parameterized wrappers (GenrePipeline.dominant's cutName
    // plumbing: the foldLeft apply plus the Some(...) at the g1 call site,
    // which nameArg matches). A new wrapper that routes a name in some
    // third way changes this count and must be registered here.
    val rawSites = texts.map("Scratch\\.cut\\(".r.findAllIn(_).length).sum
    val literalSites = texts.map(site.findAllMatchIn(_).length).sum
    // GenrePipeline.scala's parameterized Scratch.cut(df.sparkSession, n);
    // Scratch.scala's own definition is no call. (If this count drifts, a
    // cut call routes its name in a way the grep can't see.)
    val knownParameterized = 1
    assert(rawSites == literalSites + knownParameterized,
      s"raw Scratch.cut( occurrences ($rawSites) != literal sites " +
        s"($literalSites) + known parameterized ($knownParameterized) — " +
        "a cut call site routes its name in a way this grep can't see " +
        "(a genuinely new wrapper, or a name interpolation the `site` " +
        "regex doesn't cover — it tolerates line breaks and both " +
        "Scratch.key spellings, but not e.g. a name built outside the " +
        "call); extend the regexes or the known-wrapper count")
    val unowned = prefixes.filterNot(siteOwner.contains)
    assert(unowned.isEmpty,
      s"Scratch.cut sites with no differential owner: ${unowned.toSeq.sorted
        .mkString(", ")} — add the owning query to Census.round15Cuts " +
        "(or a successor list) and map the prefix in siteOwner")
    val stale = siteOwner.keySet -- prefixes
    assert(stale.isEmpty,
      s"siteOwner maps prefixes no longer present in source: ${stale.toSeq
        .sorted.mkString(", ")}")
    val unToggled = siteOwner.values.toSet -- Census.allCuts.toSet
    assert(unToggled.isEmpty,
      s"site owners missing from Census.allCuts: ${unToggled.toSeq.sorted
        .mkString(", ")}")
  }
}
