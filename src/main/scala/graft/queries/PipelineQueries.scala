package graft.queries

import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.{Artifact, Q, Tables}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Training-data pipeline operators over the `documents` and `embeddings`
  * tables: deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard),
  * similarity search over embeddings, text analysis (language ID, quality
  * scoring, token counting, fingerprinting), and multimodal binary-column
  * handling. These are the engine's "100 TB pipeline" surface; each query
  * is phrased so the same arithmetic runs in the DuckDB oracle.
  *
  * Scale rules observed throughout:
  *  - near-dup candidate generation is ALWAYS banded (groupBy band ->
  *    within-bucket pairs), never an all-pairs crossJoin;
  *  - per-document signatures are single-pass, shuffle-free projections;
  *  - top-k similarity is a per-key window over bucketed candidates (or a
  *    broadcast of the small query set), never a global sort.
  */
object PipelineQueries {
  import Tables._

  /** documents with tokenized text; the >=3-token filter keeps shingle and
    * signature arrays non-empty (every synthetic doc passes, but the guard
    * is part of the operator contract).
    */
  private def tokenized(s: SparkSession, d: String): DataFrame =
    Tables.tokenizedDocs(s, d)

  /** DuckDB SQL fragment: tokenized documents (mirror of `tokenized`). */
  private val sqlTok =
    """tok AS (
      |  SELECT doc_id, text, lang, n_chars, string_split(lower(text), ' ') AS w
      |  FROM documents WHERE len(string_split(lower(text), ' ')) >= 3
      |)""".stripMargin

  /** DuckDB SQL fragment: 32-bit md5-derived hash (mirror of
    * TextFunctions.hash32).
    */
  private def sqlH32(e: String): String =
    s"('0x' || substr(md5($e), 1, 8))::BIGINT"

  /** t1's language-ID rule as a Column over the tokenized `w` array —
    * ONE definition shared by t1 (per-doc emit) and m20 (confusion
    * metrics), so the stopword lists and the >=-tie convention cannot
    * drift between the predictor and its evaluation.
    */
  private def predLang: org.apache.spark.sql.Column = {
    val en = size(filter(col("w"), t => t.isin("the", "a", "of")))
    val es = size(filter(col("w"), t => t.isin("el", "la", "los")))
    val de = size(filter(col("w"), t => t.isin("der", "die", "und")))
    when(en >= es && en >= de, "en").when(es >= de, "es").otherwise("de")
  }

  /** DuckDB mirror of `predLang` (t1's CASE, verbatim). */
  private val sqlPredLang =
    """CASE
      |    WHEN len(list_filter(w, t -> t IN ('the', 'a', 'of')))
      |      >= len(list_filter(w, t -> t IN ('el', 'la', 'los')))
      |     AND len(list_filter(w, t -> t IN ('the', 'a', 'of')))
      |      >= len(list_filter(w, t -> t IN ('der', 'die', 'und'))) THEN 'en'
      |    WHEN len(list_filter(w, t -> t IN ('el', 'la', 'los')))
      |      >= len(list_filter(w, t -> t IN ('der', 'die', 'und'))) THEN 'es'
      |    ELSE 'de'
      |  END""".stripMargin

  /** Embeddings with cast vector, sign-hyperplane bucket, and norm,
    * partitioned by bucket — the shared input of the e2/e3 self-joins (same
    * single-computation diamond as lshBandFrame: identical shuffle subtrees
    * on both sides dedup into one ReusedExchange).
    */
  /** Embeddings in IVF shape: (vec_id, v: array<double>). Shared by e4's
    * index build, its probe side, and its exact-recall baseline.
    */
  private def ivfEmb(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** An IVF index is an artifact, not a query (VERDICT r4 #4): the k-means
    * quantizer is trained ONCE per (session, sf dir) and every e4 execution
    * reuses it. IvfIndex.save/load is the cross-job form of this memo.
    * Saved and loaded, not just an in-process handle (round 15): build's
    * `assigned` is a live k-means-transform LINEAGE over embeddings, so
    * every consumer that touched model.assigned re-planned corpus scans
    * (e8 planned 8, e9 7 — the first scan census, now RegistryAuditSpec).
    * Loaded, the index is what the scaladoc always claimed: a
    * cell-partitioned parquet artifact, and search plans read IT, pruning
    * to probed cells file-level. Bench reports the build as "_ivf_build".
    */
  private val ivfIndex = Artifact("_ivf_build") { (s, d) =>
    val built = graft.similarity.IvfIndex.build(ivfEmb(s, d), nCells = 8)
    val dir = graft.Scratch.dir(s, s"ivf_idx_${graft.Scratch.key(d)}")
    graft.similarity.IvfIndex.save(built, dir)
    graft.similarity.IvfIndex.load(s, dir)
  }

  def pretrainIvf(s: SparkSession, d: String): Unit = { ivfIndex.get(s, d); () }

  /** PQ codebooks: same artifact contract as the IVF quantizer — trained
    * once per (session, sf dir), seeded, reused by every e7 execution;
    * Bench reports the m=16 driver-side sub-space k-means fits (on the
    * seeded sufficient sample — see PqIndex.build) and the single encode
    * write as "_pq_build".
    * m=16 x k=32 on 64-dim: 4-dim subspaces, 32x compression, measured
    * mean top-10 overlap 5.2/10 on the near-random synthetic embeddings
    * (4x16 scored 1.7 — chance; resolution is the recall knob). Saved and
    * loaded for the IVF reason: build's `codes` is a live encode lineage
    * over the corpus — loaded, ADC reads the code artifact.
    */
  private val pqIndex = Artifact("_pq_build") { (s, d) =>
    val built = graft.similarity.PqIndex.build(ivfEmb(s, d), m = 16, k = 32)
    val dir = graft.Scratch.dir(s, s"pq_idx_${graft.Scratch.key(d)}")
    graft.similarity.PqIndex.save(built, dir)
    graft.similarity.PqIndex.load(s, dir)
  }

  def pretrainPq(s: SparkSession, d: String): Unit = { pqIndex.get(s, d); () }

  def clearCaches(): Unit = { ivfIndex.reset(); pqIndex.reset() }

  private def bucketedEmbeddings(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("bucket", signBucket(col("v"), Seq(0, 21, 42)))
      .withColumn("nrm", l2Norm(col("v")))
      .repartition(col("bucket"))

  /** doc_id x (band_idx, band_key) LSH band rows, partitioned by the band
    * key. Shared by d3/d6/c11 and the d7/c17 cluster build; see the d3
    * comment for why posexplode_outer + repartition (instead of persist)
    * is the single-computation shape WITHIN one query. r17: the exploded
    * band rows ride [[graft.Scratch.cut]] — four consumers re-derived the
    * same tokenize+minhash pass per suite run; now the first (c11 in sort
    * order) writes it once and the rest read the identical files. The
    * repartition stays OUTSIDE the cut so both self-join inputs remain
    * the same shuffle subtree (the ReusedExchange diamond PlanSpec pins,
    * which the live `cutMaterialize=false` form — toggled by
    * CutDifferentialSpec — still exercises end to end).
    */
  private def lshBandFrame(s: SparkSession, d: String): DataFrame =
    graft.Scratch.cut(s, s"lshb_${graft.Scratch.key(d)}")(
      tokenized(s, d)
        .select(col("doc_id"), minhashSigNative(col("text"), 16).as("sig"))
        .select(col("doc_id"), lshBands(col("sig"), 4, 4).as("bands"))
        .select(col("doc_id"),
          posexplode_outer(col("bands")).as(Seq("band_idx", "band_key"))))
      .repartition(col("band_idx"), col("band_key"))

  /** The near-dup CLUSTER frame (doc_id, comp) shared by d7 and c17: LSH
    * band pairs -> iterative min-label propagation. ONE definition so the
    * banding parameters and the propagation contract can't drift between
    * the two consumers (see d7's comment for the two-level checkpoint
    * rationale). r17: the finished label frame rides [[Scratch.cut]]'s
    * by-name producer — the 10-round propagation is an EAGER build (its
    * own pair write + per-round checkpoints), so a by-value cut memo could
    * never stop the second consumer re-running it; the by-name cut makes
    * each suite run pay the build exactly once (c17 constructs first in
    * sorted order and pays; d7 reads the identical labels — the u1/u2
    * change-batch discipline applied to the one remaining doubled
    * iterative build).
    * `cutMaterialize=false` restores the rebuild-per-consumer form;
    * CutDifferentialSpec holds both forms row-identical. The builder's
    * pair and label checkpoints live under a dir keyed by the consumer
    * `tag` and the sf dir (`lpaLabels`' discipline): in the live form a
    * shared dir let d7's rebuild overwrite the files a c17 frame built
    * earlier still read.
    */
  private def dupComponents(s: SparkSession, d: String, tag: String): DataFrame =
    graft.Scratch.cut(s, s"d7_comps_${graft.Scratch.key(d)}") {
      val bands = lshBandFrame(s, d)
      val pairs = bands.as("x")
        .join(bands.as("y").hint("shuffle_hash"),
          col("x.band_idx") === col("y.band_idx")
            && col("x.band_key") === col("y.band_key")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
      val scratch = graft.Scratch.dir(s, s"${tag}_dupcomps_${graft.Scratch.key(d)}")
      graft.operators.ConnectedComponents
        .propagateMinLabel(Sources.checkpoint(pairs, s"$scratch/pairs"),
          "a_id", "b_id", maxIter = 10,
          checkpointDir = Some(s"$scratch/labels"))
        .select(col("node").as("doc_id"), col("comp"))
    }

  /** DuckDB SQL fragment mirroring [[dupComponents]] (bands -> pairs ->
    * recursive reachability -> per-doc min label). Requires the caller's
    * WITH to be RECURSIVE and to have interpolated sqlTok/sqlSig first.
    */
  private val sqlDupComps =
    """bands AS (
      |  SELECT doc_id, bi.b AS band_idx,
      |    array_to_string(sig[bi.b*4 + 1 : bi.b*4 + 4], '_') AS band_key
      |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) bi
      |), pairs AS (
      |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      |  FROM bands x JOIN bands y
      |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
      |    AND x.doc_id < y.doc_id
      |), sym AS (
      |  SELECT a_id AS a, b_id AS b FROM pairs
      |  UNION SELECT b_id, a_id FROM pairs
      |), reach AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
      |), comp AS (
      |  SELECT a AS doc_id, least(a, min(b)) AS comp
      |  FROM reach GROUP BY a
      |)""".stripMargin

  /** DuckDB SQL fragment: per-doc 3-gram shingle hashes + 16-slot minhash
    * signature (mirror of minhashSignature(shingleHashes, 16)).
    */
  private val sqlSig =
    s"""sh AS (
       |  SELECT doc_id,
       |    [${sqlH32("array_to_string(w[i:i+2], ' ')")} for i in range(1, len(w) - 1)] AS hs
       |  FROM tok
       |), sig AS (
       |  SELECT doc_id,
       |    [list_min([((j*2 + 3)*h + (j*7919 + 1)) % 2147483647 for h in hs]) for j in range(0, 16)]
       |      AS sig
       |  FROM sh
       |)""".stripMargin

  /** Deterministic change batch for u1/u2, derived from the base snapshot:
    * updates (doc_id%7=0, new revision), inserts (doc_id%13=3 re-entering
    * above the current key space), tombstone deletes (doc_id%11=5, minus
    * the update overlap — the three ops are mutually exclusive by
    * construction so MERGE precedence never matters). Insert ids offset by
    * max(doc_id)+1 — a 1-row broadcast, not a fixed constant, so they can
    * never collide with existing base/update keys at any corpus size (a
    * fixed 1e6 offset breaks the exclusivity invariant the moment base ids
    * reach 1e6).
    *
    * The batch rides [[graft.Scratch.cut]] (round 15): in production a
    * change batch IS its own table; deriving it lazily from the base let
    * every u-family consumer re-plan the derivation, so u1/u2/u10 planned
    * 8-9 documents scans each (the first scan census, now
    * RegistryAuditSpec). Cut, each query's plan reads the batch like the
    * real table it models.
    */
  private def changeBatch(s: SparkSession, d: String,
      base: DataFrame): DataFrame =
    graft.Scratch.cut(s, s"uchg_${graft.Scratch.key(d)}") {
      val off = base.agg((max(col("doc_id")) + 1L).as("ins_off"))
      val upd = base.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" [rev2]")).as("text"),
          lit(2L).as("rev"), lit("U").as("op"))
      val ins = base.filter(col("doc_id") % 13 === 3)
        .crossJoin(broadcast(off))
        .select((col("doc_id") + col("ins_off")).as("doc_id"),
          concat(lit("new "), col("text")).as("text"),
          lit(1L).as("rev"), lit("I").as("op"))
      val del = base.filter(col("doc_id") % 11 === 5 && col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), lit(null).cast("string").as("text"),
          lit(0L).as("rev"), lit("D").as("op"))
      upd.unionByName(ins).unionByName(del)
    }

  /** u10/u11's second delta log, derived like [[changeBatch]] and cut for
    * the same reason (both queries replay the SAME log stack — the shared
    * scratch name means the second query's construction re-writes, never
    * re-plans, the derivation).
    */
  private def deltaLog2(s: SparkSession, d: String,
      base: DataFrame): DataFrame =
    graft.Scratch.cut(s, s"ud2_${graft.Scratch.key(d)}") {
      val off = base.agg((max(col("doc_id")) + 1L).as("ins_off"))
      base.filter(col("doc_id") % 14 === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" [rev3]")).as("text"),
          lit(3L).as("rev"), lit("U").as("op"))
        .unionByName(base
          .filter(col("doc_id") % 13 === 3 && col("doc_id") % 2 === 0)
          .crossJoin(broadcast(off))
          .select((col("doc_id") + col("ins_off")).as("doc_id"),
            lit(null).cast("string").as("text"),
            lit(0L).as("rev"), lit("D").as("op")))
        .withColumn("ver", lit(2L))
    }

  /** DuckDB SQL fragment mirroring [[changeBatch]] (shared by u1/u2). */
  private val sqlChanges =
    """base AS (SELECT doc_id, text FROM documents),
      |upd AS (SELECT doc_id, text || ' [rev2]' AS text, 2 AS rev, 'U' AS op
      |        FROM base WHERE doc_id % 7 = 0),
      |ins AS (SELECT doc_id + (SELECT max(doc_id) + 1 FROM base) AS doc_id,
      |          'new ' || text AS text, 1 AS rev, 'I' AS op
      |        FROM base WHERE doc_id % 13 = 3),
      |del AS (SELECT doc_id, NULL AS text, 0 AS rev, 'D' AS op
      |        FROM base WHERE doc_id % 11 = 5 AND doc_id % 7 <> 0),
      |changes AS (SELECT * FROM upd UNION ALL SELECT * FROM ins
      |            UNION ALL SELECT * FROM del)""".stripMargin

  lazy val all: Seq[Q] = base ++ round11

  private val base: Seq[Q] = Seq(

    // ----- deduplication -------------------------------------------------
    // D1: exact dedup — one shuffle keyed on the content hash; min(doc_id)
    // is the deterministic keep-first rule. At 100 TB this is the cheapest
    // possible dedup: hash is computed map-side and the shuffle carries
    // (hash, id) pairs only, never the text.
    Q("d1_dedup_exact",
      (s, d) => documents(s, d)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id"),
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin)),

    // D2: MinHash signatures (16 permutations over 3-gram shingles) — the
    // per-doc half of near-dup detection. Entirely map-side: no shuffle, no
    // UDF; the signature is 16 longs regardless of document size.
    Q("d2_minhash_sig",
      (s, d) => tokenized(s, d)
        .select(col("doc_id"),
          array_join(minhashSigNative(col("text"), 16).cast("array<string>"), ",")
            .as("sig"))
        .orderBy("doc_id"),
      Some(s"""WITH $sqlTok, $sqlSig
              |SELECT doc_id, array_to_string(sig, ',') AS sig
              |FROM sig ORDER BY doc_id""".stripMargin)),

    // D3: LSH candidate pairs — 4 bands x 4 rows. Banding turns near-dup
    // search into an equi-join keyed on (band_idx, band_key): docs meet only
    // inside a bucket, so the cost is sum(bucket^2), not N^2. This is the
    // scale path; an all-pairs crossJoin never appears.
    Q("d3_lsh_pairs",
      (s, d) => {
        // The band frame feeds BOTH sides of the self-join (a diamond).
        // Three deliberate choices make the signatures get hashed exactly
        // once with NO persist (an r2 version persisted here, which leaks
        // cached blocks in long-lived sessions — the query can't unpersist
        // after its caller's action):
        //  - posexplode_OUTER: plain posexplode makes the optimizer infer a
        //    `size(bands) > 0` filter whose pushdown re-inlines the minhash
        //    expression 4x into the scan filter; bands is statically
        //    length-4, so outer is semantically identical and infers nothing;
        //  - an explicit repartition on the band key, so both join inputs
        //    are the same shuffle subtree;
        //  - a shuffle-hash hint: broadcasting one side of a self-join of a
        //    corpus-derived table is wrong at scale anyway, and with both
        //    sides shuffled AQE dedups them into ONE exchange + a
        //    ReusedExchange (plan pinned by PlanSpec).
        val bands = lshBandFrame(s, d)
        bands.as("x")
          .join(bands.as("y").hint("shuffle_hash"),
            col("x.band_idx") === col("y.band_idx")
              && col("x.band_key") === col("y.band_key")
              && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
          .distinct()
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH $sqlTok, $sqlSig, bands AS (
              |  SELECT doc_id, bi.b AS band_idx,
              |    array_to_string(sig[bi.b*4 + 1 : bi.b*4 + 4], '_') AS band_key
              |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) bi
              |)
              |SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
              |FROM bands x JOIN bands y
              |  ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              |  AND x.doc_id < y.doc_id
              |ORDER BY a_id, b_id""".stripMargin)),

    // D6: dedup APPLIED — the full near-dup pipeline ending in a cleaned
    // corpus: LSH candidates -> exact-hash confirmation -> drop every
    // pair's higher doc_id (keep-first) -> per-lang survivor counts. The
    // drop set is a left-anti join, so the corpus is never collected.
    Q("d6_dedup_apply",
      (s, d) => {
        // same single-computation diamond as d3 (see the d3 comment)
        val bands = lshBandFrame(s, d)
        val losers = bands.as("x")
          .join(bands.as("y").hint("shuffle_hash"),
            col("x.band_idx") === col("y.band_idx")
              && col("x.band_key") === col("y.band_key")
              && col("x.doc_id") < col("y.doc_id"))
          .select(col("y.doc_id").as("doc_id"))
          .distinct()
        documents(s, d)
          .join(losers, Seq("doc_id"), "left_anti")
          .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
          .orderBy("lang")
      },
      Some(s"""WITH $sqlTok, $sqlSig, bands AS (
              |  SELECT doc_id, bi.b AS band_idx,
              |    array_to_string(sig[bi.b*4 + 1 : bi.b*4 + 4], '_') AS band_key
              |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) bi
              |), losers AS (
              |  SELECT DISTINCT y.doc_id
              |  FROM bands x JOIN bands y
              |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              |    AND x.doc_id < y.doc_id
              |)
              |SELECT lang, count(*) AS n_kept FROM documents
              |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    // C11: QUALITY-AWARE dedup survivor policy — d6 keeps the min-id
    // member of each near-dup group (arbitrary but deterministic); real
    // curation keeps the BEST member (Lee et al. and every production
    // dedup keep the longest / highest-quality copy — the survivors are
    // the training data). Dominance rule: a doc is dropped iff some
    // band-sharing candidate has more chars (tie: lower id) — pairwise,
    // so it needs no component materialization, and the survivor set is
    // well-defined for any clique. Same banded equi-join as d6 with the
    // dominance residual; the rollup emits chars_kept so the policy's
    // value (quality retained vs d6's arbitrary pick) is visible in-row.
    Q("c11_quality_survivor",
      (s, d) => {
        val bands = lshBandFrame(s, d)
        val meta = documents(s, d).select(col("doc_id"), col("n_chars"))
        val bx = bands.join(meta, Seq("doc_id"))
        val losers = bx.as("x")
          .join(bx.as("y").hint("shuffle_hash"),
            col("x.band_idx") === col("y.band_idx")
              && col("x.band_key") === col("y.band_key")
              && (col("x.n_chars") > col("y.n_chars")
                || (col("x.n_chars") === col("y.n_chars")
                  && col("x.doc_id") < col("y.doc_id"))))
          .select(col("y.doc_id").as("doc_id"))
          .distinct()
        documents(s, d)
          .join(losers, Seq("doc_id"), "left_anti")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_chars")).as("chars_kept"))
          .orderBy("lang")
      },
      Some(s"""WITH $sqlTok, $sqlSig, bands AS (
              |  SELECT s.doc_id, bi.b AS band_idx,
              |    array_to_string(sig[bi.b*4 + 1 : bi.b*4 + 4], '_') AS band_key,
              |    d.n_chars
              |  FROM sig s JOIN documents d ON s.doc_id = d.doc_id
              |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) bi
              |), losers AS (
              |  SELECT DISTINCT y.doc_id
              |  FROM bands x JOIN bands y
              |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
              |    AND (x.n_chars > y.n_chars
              |      OR (x.n_chars = y.n_chars AND x.doc_id < y.doc_id))
              |)
              |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
              |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
              |FROM documents
              |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    // D8: INCREMENTAL dedup — the ingest shape: a new batch is deduped
    // against the persisted ledger of everything already accepted, without
    // ever reprocessing the historical corpus. The ledger (content hash ->
    // first doc_id) is materialized once (in production it's a bucketed
    // table keyed by hash, so the probe join is exchange-free on the
    // ledger side); the batch resolves in two steps that both shuffle on
    // the hash only: a left join against the ledger (dup_of_corpus), then
    // a keep-first window inside the batch (dup_in_batch vs new). The
    // batch here plants both dup kinds by re-labeling corpus/batch rows —
    // the oracle states the identical construction.
    Q("d8_incremental_dedup",
      (s, d) => {
        val docs = documents(s, d)
        val ledger = Sources.checkpoint(docs.filter(col("doc_id") < 400)
          .groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("first_id")),
          graft.Scratch.dir(s, "d8_ledger"))
        val batch = docs.filter(col("doc_id") >= 400)
          .unionByName(docs.filter(col("doc_id").between(100, 119))
            .withColumn("doc_id", col("doc_id") + 10000))
          .unionByName(docs.filter(col("doc_id").between(450, 454))
            .withColumn("doc_id", col("doc_id") + 20000))
          .select(col("doc_id"), md5(col("text")).as("h"))
        batch.join(ledger, Seq("h"), "left")
          .withColumn("rn",
            row_number().over(Window.partitionBy(col("h")).orderBy(col("doc_id"))))
          .select(col("doc_id"),
            when(col("first_id").isNotNull, "dup_of_corpus")
              .when(col("rn") > 1, "dup_in_batch")
              .otherwise("new").as("status"))
          .orderBy("doc_id")
      },
      Some("""WITH corpus AS (
             |  SELECT md5(text) AS h, min(doc_id) AS first_id
             |  FROM documents WHERE doc_id < 400 GROUP BY md5(text)
             |), batch AS (
             |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 400
             |  UNION ALL
             |  SELECT doc_id + 10000, md5(text) FROM documents
             |  WHERE doc_id BETWEEN 100 AND 119
             |  UNION ALL
             |  SELECT doc_id + 20000, md5(text) FROM documents
             |  WHERE doc_id BETWEEN 450 AND 454
             |), r AS (
             |  SELECT b.doc_id, c.first_id,
             |    row_number() OVER (PARTITION BY b.h ORDER BY b.doc_id) AS rn
             |  FROM batch b LEFT JOIN corpus c USING (h)
             |)
             |SELECT doc_id,
             |  CASE WHEN first_id IS NOT NULL THEN 'dup_of_corpus'
             |       WHEN rn > 1 THEN 'dup_in_batch' ELSE 'new' END AS status
             |FROM r ORDER BY doc_id""".stripMargin)),

    // D11: incremental NEAR-dup — d8's ledger pattern lifted from exact
    // hashes to MinHash signatures: the corpus persists a SIGNATURE STORE
    // (kilobytes per doc, never text), and a new crawl batch probes it
    // with the same banded equi-join as d3 (docs meet only inside a band
    // bucket), confirming candidates by signature agreement — slots-equal
    // >= 8 of 16 estimates Jaccard >= 0.5 without touching corpus text.
    // Duplicate (batch, corpus) band hits need NO distinct pass: max() and
    // count(DISTINCT) absorb them. Batch docs with zero candidates
    // re-enter via a left join so the output covers the whole batch.
    // At 100 TB the store is the only state; each day's crawl is one
    // banded probe against it — no corpus rescan, no N^2.
    Q("d11_incremental_neardup",
      (s, d) => {
        val sigs = tokenized(s, d)
          .select(col("doc_id"), minhashSigNative(col("text"), 16).as("sig"))
        def banded(df: DataFrame, idc: String, sigc: String): DataFrame = df
          .select(col("doc_id").as(idc), col("sig").as(sigc),
            posexplode_outer(lshBands(col("sig"), 4, 4))
              .as(Seq("band_idx", "band_key")))
        val cb = banded(Sources.checkpoint(sigs.filter(col("doc_id") % 4 =!= 0),
          graft.Scratch.dir(s, "d11_sigstore")), "c_id", "c_sig")
        val batch = sigs.filter(col("doc_id") % 4 === 0)
        val res = banded(batch, "b_id", "b_sig")
          .join(cb, Seq("band_idx", "band_key"))
          .filter(col("b_id") =!= col("c_id"))
          .select(col("b_id"), col("c_id"),
            aggregate(zip_with(col("b_sig"), col("c_sig"),
                (x, y) => when(x === y, 1).otherwise(0)),
              lit(0), (acc, v) => acc + v).as("agree"))
          .groupBy(col("b_id"))
          .agg(count_distinct(col("c_id")).as("n_cand"),
            max(col("agree")).as("best_agree"))
        batch.join(res, col("doc_id") === col("b_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_cand"), lit(0L)).as("n_cand"),
            coalesce(col("best_agree"), lit(0)).cast("long").as("best_agree"))
          .withColumn("is_dup", when(col("best_agree") >= 8, 1).otherwise(0))
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlTok, $sqlSig, corpus AS (
              |  SELECT * FROM sig WHERE doc_id % 4 <> 0
              |), batch AS (
              |  SELECT * FROM sig WHERE doc_id % 4 = 0
              |), cb AS (
              |  SELECT doc_id AS c_id, sig AS c_sig, bi.b AS band_idx,
              |    array_to_string(sig[bi.b*4 + 1 : bi.b*4 + 4], '_') AS band_key
              |  FROM corpus CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) bi
              |), bb AS (
              |  SELECT doc_id AS b_id, sig AS b_sig, bi.b AS band_idx,
              |    array_to_string(sig[bi.b*4 + 1 : bi.b*4 + 4], '_') AS band_key
              |  FROM batch CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) bi
              |), agr AS (
              |  SELECT b_id, c_id,
              |    len([i for i in range(1, 17) if b_sig[i] = c_sig[i]]) AS agree
              |  FROM bb JOIN cb USING (band_idx, band_key) WHERE b_id <> c_id
              |), res AS (
              |  SELECT b_id, count(DISTINCT c_id) AS n_cand, max(agree) AS best
              |  FROM agr GROUP BY 1
              |)
              |SELECT b.doc_id,
              |  CAST(coalesce(res.n_cand, 0) AS BIGINT) AS n_cand,
              |  CAST(coalesce(res.best, 0) AS BIGINT) AS best_agree,
              |  CASE WHEN coalesce(res.best, 0) >= 8 THEN 1 ELSE 0 END AS is_dup
              |FROM batch b LEFT JOIN res ON b.doc_id = res.b_id
              |ORDER BY doc_id""".stripMargin)),

    // D9: exact duplicated-SPAN detection — the span-level complement of
    // document-level dedup (Lee et al. 2022, "Deduplicating Training Data
    // Makes Language Models Better": verbatim k-token spans repeated across
    // documents are the memorization hazard even when no whole document
    // duplicates). Suffix arrays don't distribute; the standard scalable
    // form is anchor k-grams: explode every k-token span, aggregate by span,
    // keep spans seen in >= 2 distinct documents. Plan shape: one explode ->
    // one hash aggregate; count(*) is map-side partial, count(distinct
    // doc_id) expands to the usual two-level aggregate — both shuffle
    // (span, doc_id) only, never document text. At 100 TB the shuffle key
    // narrows to xxhash64(span) and span text is recovered by a follow-up
    // semi-join against the (re-exploded) hit documents; at oracle scale the
    // span rides the shuffle directly so DuckDB can replay the exact
    // arithmetic. Spans shorter than k tokens vanish identically on both
    // sides (empty shingle array / empty comprehension range).
    Q("d9_span_dedup",
      (s, d) => {
        val k = 8
        tokenized(s, d)
          .select(col("doc_id"),
            explode(shinglesNative(col("text"), k)).as("span"))
          .groupBy("span")
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_occ"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"))
          .filter(col("n_docs") >= 2)
          .orderBy("span")
      },
      Some(s"""WITH $sqlTok, sp AS (
              |  SELECT doc_id,
              |    unnest([array_to_string(w[i:i+7], ' ')
              |            for i in range(1, len(w) - 6)]) AS span
              |  FROM tok
              |)
              |SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
              |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
              |FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2
              |ORDER BY span""".stripMargin)),

    // D12: exact substring EXCISION accounting — d9 detects duplicated
    // spans; this op extends it to the corpus-level dedup Lee et al. 2022
    // actually apply: every occurrence of a cross-document k-token span
    // OUTSIDE its survivor document (min doc_id keeps its text) is marked
    // for removal, overlapping marks are merged per document (the classic
    // interval-union sweep as a PARTITIONED window: sort marks by start,
    // "new coverage" = end - max(start-1, running max of prior ends)),
    // and each document reports exact kept/removed token counts. This is
    // the suffix-array-free form: suffix arrays don't distribute, but
    // anchor k-grams + interval union compute the SAME removal set for
    // spans >= k tokens, entirely in joins/windows that shuffle (span,
    // doc, pos) — never text bodies. A longer duplicated region appears
    // as overlapping k-gram marks and the sweep merges them to one
    // interval, so the count equals full-substring-match removal on any
    // region length >= k. All-integer arithmetic: regeneration-proof by
    // construction.
    Q("d12_span_excise",
      (s, d) => {
        val k = 8
        val occ = tokenized(s, d)
          .select(col("doc_id"),
            posexplode(shinglesNative(col("text"), k)).as(Seq("p0", "span")))
        val dup = occ.groupBy(col("span"))
          .agg(count_distinct(col("doc_id")).as("n_docs"),
            min(col("doc_id")).as("min_doc"))
          .filter(col("n_docs") >= 2)
          .select(col("span"), col("min_doc"))
        val marked = occ.join(dup, Seq("span"))
          .filter(col("doc_id") =!= col("min_doc"))
          .select(col("doc_id"), (col("p0") + 1).as("s"),
            (col("p0") + lit(k)).as("e"))
        val byDoc = Window.partitionBy(col("doc_id"))
          .orderBy(col("s"), col("e"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val covered = marked
          .withColumn("prev_end", max(col("e")).over(byDoc))
          .select(col("doc_id"),
            greatest(lit(0), col("e") - greatest(col("s") - 1,
              coalesce(col("prev_end"), lit(0)))).as("add"))
          .groupBy(col("doc_id"))
          .agg(sum(col("add")).as("n_dup"))
        tokenized(s, d)
          .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
          .join(covered, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("n_dup"), lit(0L)).as("n_dup_tokens"),
            (col("n_tokens") - coalesce(col("n_dup"), lit(0L)))
              .as("n_kept_tokens"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlTok, occ AS (
              |  SELECT doc_id, CAST(u.i AS INTEGER) AS s,
              |    CAST(u.i + 7 AS INTEGER) AS e,
              |    array_to_string(w[u.i:u.i+7], ' ') AS span
              |  FROM tok, unnest(range(1, len(w) - 6)) AS u(i)
              |), dup AS (
              |  SELECT span, min(doc_id) AS min_doc
              |  FROM occ GROUP BY span HAVING count(DISTINCT doc_id) >= 2
              |), marked AS (
              |  SELECT o.doc_id, o.s, o.e
              |  FROM occ o JOIN dup dd ON o.span = dd.span
              |  WHERE o.doc_id <> dd.min_doc
              |), swept AS (
              |  SELECT doc_id, s, e,
              |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              |      AS prev_end
              |  FROM marked
              |), covered AS (
              |  SELECT doc_id,
              |    CAST(sum(greatest(0, e - greatest(s - 1,
              |      coalesce(prev_end, 0)))) AS BIGINT) AS n_dup
              |  FROM swept GROUP BY doc_id
              |)
              |SELECT t.doc_id AS doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
              |  coalesce(c.n_dup, 0) AS n_dup_tokens,
              |  CAST(len(t.w) AS BIGINT) - coalesce(c.n_dup, 0)
              |    AS n_kept_tokens
              |FROM tok t LEFT JOIN covered c ON t.doc_id = c.doc_id
              |ORDER BY t.doc_id""".stripMargin)),

    // D13: shingle CONTAINMENT scoring (Broder 1997's asymmetric twin of
    // resemblance) — |A∩B|/|A| vs |A∩B|/|B| tells near-SUPERSET apart
    // from near-duplicate: a short doc quoted whole inside a long one has
    // low Jaccard (d5 misses it) but containment ~1 on the short side —
    // the boilerplate/quotation hazard a training-data dedup pass needs
    // to see. Candidate generation is RARE-ANCHOR BLOCKING, the
    // entity-resolution idiom for asymmetric pairs LSH banding can't
    // surface: self-join only on shingles with 2 <= df <= 8, so the
    // candidate blow-up is bounded by sum(df^2) over anchors (the df cap
    // is the knob; frequent shingles never join). The exact intersection
    // then runs ONLY among candidate documents (semi-join shrinks the
    // shingle table first), and the containment ratios cross the
    // comparator as exact integer div — no float decision anywhere.
    Q("d13_containment",
      (s, d) => {
        val k = 6
        // the shingle table is MATERIALIZED (t12/c3's gram-table
        // discipline): it feeds anchors, the candidate self-join (twice
        // through shAnch), the candidate-doc semi-join, the
        // intersection self-join (twice), and the size frame — and the
        // lineage multiplies through cand/cdocs, so the unmaterialized
        // form planned TWENTY-FOUR documents scans, each recomputing
        // tokenize + shingle + distinct (round-14 scan census). cand is
        // cut too: it anchors both the doc set and the final pair
        // filter, and its lineage contains the self-join
        val sh = graft.Scratch.cut(s, s"d13_sh_${graft.Scratch.key(d)}")(
          tokenized(s, d)
            .select(col("doc_id"),
              explode(shinglesNative(col("text"), k)).as("g"))
            .distinct())
        val anchors = sh.groupBy(col("g"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df").between(2, 8))
          .select(col("g"))
        val shAnch = sh.join(anchors, Seq("g"))
        val cand = graft.Scratch.cut(s, s"d13_cand_${graft.Scratch.key(d)}")(
          shAnch.as("x")
            .join(shAnch.as("y").hint("shuffle_hash"),
              col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
            .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
            .distinct())
        val cdocs = cand.select(col("a_id").as("d"))
          .union(cand.select(col("b_id"))).distinct()
        val shc = sh.join(cdocs, col("doc_id") === col("d"), "left_semi")
        val inter = shc.as("x")
          .join(shc.as("y").hint("shuffle_hash"),
            col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
          .agg(count(lit(1)).as("n_common"))
          .join(cand, Seq("a_id", "b_id"))
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        inter
          .join(sizes.select(col("doc_id").as("a_id"), col("n").as("n_a")),
            Seq("a_id"))
          .join(sizes.select(col("doc_id").as("b_id"), col("n").as("n_b")),
            Seq("b_id"))
          .select(col("a_id"), col("b_id"), col("n_common"),
            col("n_a"), col("n_b"),
            expr("n_common * 1000 div n_a").as("contain_a_x1000"),
            expr("n_common * 1000 div n_b").as("contain_b_x1000"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH $sqlTok, sh AS (
              |  SELECT DISTINCT doc_id, array_to_string(w[u.i:u.i+5], ' ') AS g
              |  FROM tok, unnest(range(1, len(w) - 4)) AS u(i)
              |), anchors AS (
              |  SELECT g FROM sh GROUP BY g HAVING count(*) BETWEEN 2 AND 8
              |), sha AS (
              |  SELECT sh.doc_id, sh.g FROM sh JOIN anchors USING (g)
              |), cand AS (
              |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
              |  FROM sha x JOIN sha y ON x.g = y.g AND x.doc_id < y.doc_id
              |), cdocs AS (
              |  SELECT DISTINCT dd FROM
              |    (SELECT a_id AS dd FROM cand UNION SELECT b_id FROM cand)
              |), shc AS (
              |  SELECT sh.doc_id, sh.g FROM sh JOIN cdocs ON sh.doc_id = cdocs.dd
              |), inter AS (
              |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS n_common
              |  FROM shc x JOIN shc y ON x.g = y.g AND x.doc_id < y.doc_id
              |  GROUP BY 1, 2
              |), ic AS (
              |  SELECT i.* FROM inter i JOIN cand c
              |    ON i.a_id = c.a_id AND i.b_id = c.b_id
              |), sizes AS (
              |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
              |)
              |SELECT i.a_id, i.b_id, CAST(i.n_common AS BIGINT) AS n_common,
              |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
              |  CAST(i.n_common * 1000 // sa.n AS BIGINT) AS contain_a_x1000,
              |  CAST(i.n_common * 1000 // sb.n AS BIGINT) AS contain_b_x1000
              |FROM ic i JOIN sizes sa ON i.a_id = sa.doc_id
              |JOIN sizes sb ON i.b_id = sb.doc_id
              |ORDER BY a_id, b_id""".stripMargin)),

    // D7: near-dup CLUSTERS — LSH emits pairs, but the keep/drop decision
    // needs components (a–b and b–c collapse to one survivor even though
    // (a, c) was never a candidate pair). Iterative min-label propagation
    // (graft.operators.ConnectedComponents), all equi-joins/groupBys; the
    // oracle computes the same fixpoint with a recursive CTE.
    Q("d7_dup_components",
      // storage checkpoints on both levels inside dupComponents — nothing
      // pinned in memory:
      //  - the edge list, so the LSH pipeline doesn't re-run once per
      //    propagation round (lazy lineage re-executes inputs);
      //  - each round's labels (checkpointDir), so round i doesn't replay
      //    rounds 1..i-1 — O(i^2) -> O(i). Together: ~17 s -> ~4 s at
      //    sf0.1. This is the production shape for iterating over derived
      //    edges at any scale.
      (s, d) => dupComponents(s, d, "d7").orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $sqlTok, $sqlSig, $sqlDupComps
              |SELECT doc_id, comp FROM comp ORDER BY doc_id""".stripMargin)),

    // D4: 32-bit SimHash over the token multiset — near-dup sketch whose
    // Hamming distance approximates cosine distance of the token vectors.
    // Map-side only, one long per doc.
    Q("d4_simhash",
      (s, d) => tokenized(s, d)
        .select(col("doc_id"), simhashNative(col("text")).as("simhash"))
        .orderBy("doc_id"),
      Some(s"""WITH $sqlTok, th AS (
              |  SELECT doc_id, [${sqlH32("t")} for t in w] AS th FROM tok
              |), bits AS (
              |  SELECT doc_id,
              |    [CASE WHEN list_sum(
              |       [CASE WHEN (v >> b) % 2 = 1 THEN 1 ELSE -1 END for v in th]) > 0
              |     THEN 1::BIGINT ELSE 0::BIGINT END for b in range(0, 32)] AS bits
              |  FROM th
              |)
              |SELECT doc_id, list_reduce(bits, (a, b) -> a*2 + b)::BIGINT AS simhash
              |FROM bits ORDER BY doc_id""".stripMargin)),

    // D5: n-gram Jaccard verification — the exact-similarity check run on
    // candidate pairs after banding. Phrased over adjacent doc_ids (a 1:1
    // equi-join) so the verification arithmetic gets an oracle row without
    // an all-pairs join.
    Q("d5_jaccard_pairs",
      (s, d) => {
        // the two join sides key on doc_id vs doc_id+1 — different shuffle
        // keys, so exchange reuse can't apply (unlike d3/e2). Materialize
        // the shingle table once to storage instead: shingling runs once at
        // write, both sides re-read files. Same shape a 100 TB pipeline
        // uses — verification runs against a materialized signature table.
        val dir = graft.Scratch.dir(s, "d5_shingles")
        val sh = Sources.checkpoint(tokenized(s, d)
          .select(col("doc_id"),
            array_distinct(shinglesNative(col("text"), 3)).as("sh")), dir)
        sh.as("a")
          .join(sh.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
            round(size(array_intersect(col("a.sh"), col("b.sh")))
              / size(array_union(col("a.sh"), col("b.sh"))), 5).as("jaccard"))
          .orderBy("a_id")
      },
      Some(s"""WITH $sqlTok, s AS (
              |  SELECT doc_id,
              |    list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS sh
              |  FROM tok
              |)
              |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              |  round(len(list_intersect(a.sh, b.sh))
              |    / len(list_distinct(a.sh || b.sh)), 5) AS jaccard
              |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
              |ORDER BY a_id""".stripMargin)),

    // C1: corpus curation APPLIED end-to-end — the composition that is the
    // engine's reason to exist: exact dedup (keep-first) -> quality gate
    // (t2's keep rule) -> per-language top-50 by quality -> per-language
    // budget accounting. Every stage is the operator its own query tests;
    // this row proves they compose. Plan shape: one dedup shuffle, one
    // window shuffle keyed by lang — no collects, no cross products.
    Q("c1_curation_apply",
      (s, d) => {
        import graft.pipeline.Curation._
        val scored = topPerKey(
          qualityGate(
            qualityAnnotate(
              dedupExactKeepFirst(tokenized(s, d), "text", "doc_id"), "w"),
            minTokens = 10, maxTokens = 1000,
            minMtlX1000 = 2000, maxMtlX1000 = 12000),
          "lang", Seq(desc("mtl_x1000"), col("doc_id")), n = 50)
        scored.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("tok_budget"),
            min(col("mtl_x1000")).as("worst_kept_mtl"))
          .orderBy("lang")
      },
      Some(s"""WITH $sqlTok, dd AS (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY md5(text) ORDER BY doc_id) AS keep_rn
              |  FROM tok
              |), q AS (
              |  SELECT doc_id, lang, len(w) AS n_tokens,
              |    CAST(round(list_sum([len(t) for t in w]) * 1000 / len(w)) AS BIGINT)
              |      AS mtl_x1000
              |  FROM dd WHERE keep_rn = 1
              |), kept AS (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY lang ORDER BY mtl_x1000 DESC, doc_id) AS rn
              |  FROM q
              |  WHERE n_tokens BETWEEN 10 AND 1000 AND mtl_x1000 BETWEEN 2000 AND 12000
              |)
              |SELECT lang, count(*) AS n_docs,
              |  CAST(sum(n_tokens) AS BIGINT) AS tok_budget,
              |  min(mtl_x1000) AS worst_kept_mtl
              |FROM kept WHERE rn <= 50
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    // C2: deterministic train/val/test split assignment — the hash-bucket
    // split every training pipeline runs before packing (90/5/5 here).
    // Keyed on a salted content-independent id hash so the assignment is
    // stable under re-runs, re-shards, and incremental appends — never
    // rand() (irreproducible) and never modulo on the raw id (correlated
    // with insertion order). Map-side projection: no shuffle at any scale.
    Q("c2_split_assign",
      (s, d) => {
        val bucket = pmod(
          hash32(concat(lit("split:"), col("doc_id").cast("string"))), lit(1000L))
        documents(s, d)
          .select(col("doc_id"), bucket.as("bucket"))
          .withColumn("split",
            when(col("bucket") < 900, "train")
              .when(col("bucket") < 950, "val")
              .otherwise("test"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
              |  ${sqlH32("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 AS bucket,
              |  CASE WHEN ${sqlH32("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 < 900 THEN 'train'
              |       WHEN ${sqlH32("'split:' || CAST(doc_id AS VARCHAR)")} % 1000 < 950 THEN 'val'
              |       ELSE 'test' END AS split
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- text analysis -------------------------------------------------
    // T1: n-gram-lexicon language ID. Marker-token hit counts per language,
    // argmax with a fixed tie order. Map-side projection; the lexicons are
    // literals in the plan (at scale: a broadcast map).
    Q("t1_langid",
      (s, d) => {
        val en = size(filter(col("w"), t => t.isin("the", "a", "of")))
        val es = size(filter(col("w"), t => t.isin("el", "la", "los")))
        val de = size(filter(col("w"), t => t.isin("der", "die", "und")))
        tokenized(s, d)
          .select(col("doc_id"), en.cast("long").as("en_hits"),
            es.cast("long").as("es_hits"), de.cast("long").as("de_hits"),
            predLang.as("pred_lang"),
            col("lang"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlTok
              |SELECT doc_id,
              |  len(list_filter(w, t -> t IN ('the', 'a', 'of'))) AS en_hits,
              |  len(list_filter(w, t -> t IN ('el', 'la', 'los'))) AS es_hits,
              |  len(list_filter(w, t -> t IN ('der', 'die', 'und'))) AS de_hits,
              |  $sqlPredLang AS pred_lang,
              |  lang
              |FROM tok ORDER BY doc_id""".stripMargin)),

    // M20: MULTICLASS EVAL — the confusion-matrix readout of t1's
    // language-ID rule (the m-family's other evals are all binary:
    // m14 PR, m17 calibration, m18 gains, m19 AUC). Per TRUE class:
    // support, predicted count, true positives, and one-vs-rest
    // precision/recall/F1 as exact x1e4 truncating quotients. The
    // predictor only emits {en, es, de} while the corpus carries five
    // languages — fr/zh rows have n_pred = 0 and a NULL precision
    // (never-predicted classes are exactly what this table exists to
    // surface), which is why the class axis is a FULL OUTER join of
    // the true-side and predicted-side aggregates, never an inner.
    // Scale shape: ONE fact pass reduces the corpus to the <= 25-cell
    // (lang, pred) matrix, MATERIALIZED to scratch (both metric
    // aggregates read it; the consumer plan never rescans documents —
    // PlanSpec pin); everything downstream is algebra on that matrix.
    Q("m20_multiclass_eval",
      (s, d) => {
        val dir = graft.Scratch.dir(s, s"m20_cm_${graft.Scratch.key(d)}")
        val cm = Sources.checkpoint(tokenized(s, d)
          .select(col("lang"), predLang.as("pred"))
          .groupBy(col("lang"), col("pred"))
          .agg(count(lit(1)).as("n")), dir)
        val byTrue = cm.groupBy(col("lang"))
          .agg(sum(col("n")).as("n_true"),
            sum(when(col("pred") === col("lang"), col("n"))
              .otherwise(0L)).as("tp"))
        val byPred = cm.groupBy(col("pred"))
          .agg(sum(col("n")).as("n_pred"))
        byTrue.join(byPred, col("lang") === col("pred"), "full_outer")
          .select(coalesce(col("lang"), col("pred")).as("cls"),
            coalesce(col("n_true"), lit(0L)).as("n_true"),
            coalesce(col("n_pred"), lit(0L)).as("n_pred"),
            coalesce(col("tp"), lit(0L)).as("tp"))
          .select(col("cls"), col("n_true"), col("n_pred"), col("tp"),
            expr("tp * 10000 div nullif(n_pred, 0)").as("precision_x1e4"),
            expr("tp * 10000 div nullif(n_true, 0)").as("recall_x1e4"),
            expr("2 * tp * 10000 div nullif(n_true + n_pred, 0)")
              .as("f1_x1e4"))
          .orderBy("cls")
      },
      Some(s"""WITH $sqlTok, pd AS (
              |  SELECT lang, $sqlPredLang AS pred FROM tok
              |), cm AS (
              |  SELECT lang, pred, CAST(count(*) AS BIGINT) AS n
              |  FROM pd GROUP BY 1, 2
              |), t AS (
              |  SELECT lang, CAST(sum(n) AS BIGINT) AS n_true,
              |    CAST(sum(CASE WHEN pred = lang THEN n ELSE 0 END)
              |      AS BIGINT) AS tp
              |  FROM cm GROUP BY lang
              |), p AS (
              |  SELECT pred, CAST(sum(n) AS BIGINT) AS n_pred
              |  FROM cm GROUP BY pred
              |)
              |SELECT coalesce(lang, pred) AS cls,
              |  coalesce(n_true, 0) AS n_true,
              |  coalesce(n_pred, 0) AS n_pred,
              |  coalesce(tp, 0) AS tp,
              |  coalesce(tp, 0) * 10000 // nullif(coalesce(n_pred, 0), 0)
              |    AS precision_x1e4,
              |  coalesce(tp, 0) * 10000 // nullif(coalesce(n_true, 0), 0)
              |    AS recall_x1e4,
              |  2 * coalesce(tp, 0) * 10000
              |    // nullif(coalesce(n_true, 0) + coalesce(n_pred, 0), 0)
              |    AS f1_x1e4
              |FROM t FULL OUTER JOIN p ON lang = pred
              |ORDER BY cls""".stripMargin)),

    // T2: quality scoring — length, mean token length, stopword ratio,
    // punctuation count; ratios scaled to integers so both engines format
    // identically. The keep/drop verdict is the filter a 100 TB corpus
    // cleaning job applies before training.
    Q("t2_quality",
      (s, d) => {
        val nTok = size(col("w"))
        val charSum = aggregate(transform(col("w"), t => length(t).cast("long")),
          lit(0L), (a, x) => a + x)
        val stopHits = size(filter(col("w"),
          t => t.isin("the", "a", "of", "and", "to")))
        val punct = length(regexp_replace(lower(col("text")), "[a-z0-9 ]", ""))
        tokenized(s, d)
          .select(col("doc_id"), col("n_chars"), nTok.cast("long").as("n_tokens"),
            round(charSum * 1000 / nTok).cast("long").as("mean_tok_len_x1000"),
            round(stopHits * lit(1000.0) / nTok).cast("long").as("stop_ratio_x1000"),
            punct.cast("long").as("punct_chars"))
          .withColumn("keep",
            (col("n_tokens").between(10, 1000)
              && col("mean_tok_len_x1000").between(2000, 12000)).cast("int"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlTok
              |SELECT doc_id, n_chars, len(w) AS n_tokens,
              |  CAST(round(list_sum([len(t) for t in w]) * 1000 / len(w)) AS BIGINT)
              |    AS mean_tok_len_x1000,
              |  CAST(round(len(list_filter(w, t -> t IN ('the','a','of','and','to')))
              |    * 1000.0 / len(w)) AS BIGINT) AS stop_ratio_x1000,
              |  CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS BIGINT)
              |    AS punct_chars,
              |  CAST(len(w) BETWEEN 10 AND 1000
              |    AND CAST(round(list_sum([len(t) for t in w]) * 1000 / len(w)) AS BIGINT)
              |      BETWEEN 2000 AND 12000 AS INT) AS keep
              |FROM tok ORDER BY doc_id""".stripMargin)),

    // T3: token counting — whitespace tokens, regex (BPE-ish pre-tokenizer)
    // tokens, and a subword estimate (ceil(len/4) pieces per word).
    Q("t3_token_count",
      (s, d) => tokenized(s, d)
        .select(col("doc_id"),
          size(col("w")).cast("long").as("ws_tokens"),
          size(regexp_extract_all(lower(col("text")),
            lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("re_tokens"),
          aggregate(transform(col("w"), t => ceil(length(t) / lit(4.0)).cast("long")),
            lit(0L), (a, x) => a + x).as("subword_est"))
        .orderBy("doc_id"),
      Some(s"""WITH $sqlTok
              |SELECT doc_id, len(w) AS ws_tokens,
              |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
              |  CAST(list_sum([ceil(len(t)/4.0)::BIGINT for t in w]) AS BIGINT) AS subword_est
              |FROM tok ORDER BY doc_id""".stripMargin)),

    // T4: order-sensitive document fingerprint (position-weighted rolling
    // hash) — detects reordered / re-segmented copies that content-hash
    // dedup misses. Map-side, one long per doc.
    Q("t4_fingerprint",
      (s, d) => tokenized(s, d)
        .select(col("doc_id"), fingerprint(col("w")).as("fp"))
        .orderBy("doc_id"),
      Some(s"""WITH $sqlTok
              |SELECT doc_id,
              |  CAST(list_sum([i * ${sqlH32("w[i]")} for i in range(1, len(w) + 1)])
              |    % 2147483647 AS BIGINT) AS fp
              |FROM tok ORDER BY doc_id""".stripMargin)),

    // T9: sequence packing — assign every document its position in the
    // concatenated fixed-budget training stream (contiguous packing: docs
    // in id order, bin = which 256-token sequence the doc STARTS in, off =
    // where inside it). The corpus-wide token offset is the scalable prefix
    // sum (GlobalRank.withRunningTotal: range partition + offsets), NEVER a
    // single-partition running window — at 100 TB the token stream is
    // trillions of tokens. The bin division is exact decimal arithmetic
    // (same hazard as Tables.eventTime: `/` on longs promotes to double).
    Q("t9_pack",
      (s, d) => {
        val budget = 256L
        val counted = tokenized(s, d)
          .select(col("doc_id"), size(col("w")).cast("long").as("n_tok"))
        graft.operators.GlobalRank
          .withRunningTotal(counted, Seq(col("doc_id")), "n_tok", "cum")
          .withColumn("start", col("cum") - col("n_tok"))
          .select(col("doc_id"), col("n_tok"),
            (col("start").cast("decimal(20,0)") / budget).cast("long").as("bin"),
            pmod(col("start"), lit(budget)).as("off"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlTok, t AS (
              |  SELECT doc_id, len(w) AS n_tok FROM tok
              |), c AS (
              |  SELECT doc_id, n_tok,
              |    CAST(sum(n_tok) OVER (ORDER BY doc_id
              |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tok AS strt
              |  FROM t
              |)
              |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
              |  strt // 256 AS bin, strt % 256 AS off
              |FROM c ORDER BY doc_id""".stripMargin)),

    // T10: Unicode NFC normalization — precomposed vs decomposed spellings
    // of the same character must hash identically before any dedup stage.
    // A decomposed suffix (e + combining acute, U+0301) is appended so the
    // normalizer provably does work on every row: Spark's native
    // NormalizeNFC expression and DuckDB's nfc_normalize must then produce
    // byte-identical strings (compared via md5 + length). Map-side only.
    Q("t10_nfc_normalize",
      (s, d) => {
        // decomposed on purpose: 'e' + COMBINING ACUTE (U+0301), the form
        // NFC must compose into the single code point U+00E9
        val suffixed = concat(col("text"), lit(" e\u0301cole"))
        documents(s, d)
          .select(col("doc_id"),
            md5(nfc(suffixed)).as("nfc_md5"),
            length(nfc(suffixed)).cast("long").as("nfc_len"),
            (length(suffixed) - length(nfc(suffixed))).cast("long")
              .as("chars_composed"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  md5(nfc_normalize(text || ' e' || chr(769) || 'cole')) AS nfc_md5,
             |  length(nfc_normalize(text || ' e' || chr(769) || 'cole')) AS nfc_len,
             |  length(text || ' e' || chr(769) || 'cole')
             |    - length(nfc_normalize(text || ' e' || chr(769) || 'cole'))
             |    AS chars_composed
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // T11: PII redaction — regex masking of emails and phone-shaped digit
    // runs, the pre-training scrub every text pipeline runs. A synthetic
    // PII suffix is appended so the redaction provably fires on every row.
    // Conservative character-class patterns only (no lookaround, no \d
    // shorthand) so the Java and RE2 engines match identically; Spark's
    // regexp_replace is global by default, DuckDB needs the 'g' flag.
    Q("t11_pii_redact",
      (s, d) => {
        val withPii = concat(col("text"),
          lit(" contact bob.smith@example.com or 555-123-4567 now"))
        val redacted = regexp_replace(
          regexp_replace(withPii,
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
          "[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]", "<PHONE>")
        documents(s, d)
          .select(col("doc_id"), md5(redacted).as("redacted_md5"),
            length(redacted).cast("long").as("redacted_len"))
          .orderBy("doc_id")
      },
      Some("""WITH r AS (
             |  SELECT doc_id, regexp_replace(
             |    regexp_replace(text || ' contact bob.smith@example.com or 555-123-4567 now',
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
             |    '[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]', '<PHONE>', 'g') AS red
             |  FROM documents
             |)
             |SELECT doc_id, md5(red) AS redacted_md5,
             |  length(red) AS redacted_len
             |FROM r ORDER BY doc_id""".stripMargin)),

    // T12: repetition signals (the Gopher-rule family): per document, the
    // share of tokens taken by the single most frequent token and the share
    // of bigrams taken by the most frequent bigram — high values mark
    // boilerplate / degenerate text that quality-gates drop before training.
    // Shape: explode -> two-level groupBy (map-side partial agg both times),
    // never a per-doc O(tokens^2) HOF scan; shuffles carry (doc_id, gram)
    // pairs only, so the plan survives a 100 TB corpus.
    Q("t12_repetition",
      (s, d) => {
        // Materialized once to scratch storage (the d5 idiom): three
        // branches (counts, token explode, bigram explode) consume the gram
        // table, and HOF lambdas get no CSE — left as a live plan, the
        // optimizer re-inlines split(lower(text)) into the shingle lambda
        // in every branch (RegistryAuditSpec catches exactly this; it cost
        // 4.7 s -> ~1 s at sf0.1). Tokenize-once-reuse-many is also the
        // only shape that survives a 100 TB corpus.
        val dir = graft.Scratch.dir(s, "t12_grams")
        val base = Sources.checkpoint(tokenized(s, d)
          .select(col("doc_id"), col("w"),
            shinglesNative(col("text"), 2).as("bg")), dir)
        val counts = base.select(col("doc_id"),
          size(col("w")).cast("long").as("n_tokens"),
          size(col("bg")).cast("long").as("n_bigrams"))
        def topShare(grams: DataFrame, n: String) = grams
          .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg(max(col("c")).as(n))
        val topTok = topShare(
          base.select(col("doc_id"), explode(col("w")).as("g")), "top_tok_n")
        val topBg = topShare(
          base.select(col("doc_id"), explode(col("bg")).as("g")), "top_bg_n")
        counts.join(topTok, Seq("doc_id")).join(topBg, Seq("doc_id"))
          .select(col("doc_id"), col("n_tokens"),
            round(col("top_tok_n") * 1000.0 / col("n_tokens")).cast("long")
              .as("top_token_x1000"),
            round(col("top_bg_n") * 1000.0 / col("n_bigrams")).cast("long")
              .as("top_bigram_x1000"))
          .withColumn("keep",
            (col("top_token_x1000") <= 200 && col("top_bigram_x1000") <= 200)
              .cast("int"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlTok, bg AS (
              |  SELECT doc_id, w,
              |    [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))] AS bg
              |  FROM tok
              |), tt AS (
              |  SELECT doc_id, max(c) AS top_tok_n FROM (
              |    SELECT doc_id, t, count(*) AS c
              |    FROM (SELECT doc_id, unnest(w) AS t FROM tok) GROUP BY doc_id, t
              |  ) GROUP BY doc_id
              |), tb AS (
              |  SELECT doc_id, max(c) AS top_bg_n FROM (
              |    SELECT doc_id, b, count(*) AS c
              |    FROM (SELECT doc_id, unnest(bg) AS b FROM bg) GROUP BY doc_id, b
              |  ) GROUP BY doc_id
              |)
              |SELECT tok.doc_id, len(w) AS n_tokens,
              |  CAST(round(top_tok_n * 1000.0 / len(w)) AS BIGINT) AS top_token_x1000,
              |  CAST(round(top_bg_n * 1000.0 / (len(w) - 1)) AS BIGINT) AS top_bigram_x1000,
              |  CAST(CAST(round(top_tok_n * 1000.0 / len(w)) AS BIGINT) <= 200
              |    AND CAST(round(top_bg_n * 1000.0 / (len(w) - 1)) AS BIGINT) <= 200
              |    AS INT) AS keep
              |FROM tok JOIN tt USING (doc_id) JOIN tb USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // C3: benchmark decontamination — before training, drop (or flag) any
    // document whose distinct 3-gram shingles overlap a held-out benchmark
    // set too heavily (the n-gram-overlap rule GPT-3/PaLM-style pipelines
    // apply). Held-out set here: doc_id % 20 == 0. Shape: both sides
    // explode to (gram, doc) rows and equi-join on the gram — the benchmark
    // gram set is corpus-derived, so nothing assumes it broadcasts (AQE may
    // choose to when it is actually small); counting hits is a map-side
    // partial agg on doc_id. At 100 TB grams would be 64-bit hashes rather
    // than strings — the join key shrinks, the plan is unchanged (strings
    // kept here so the DuckDB oracle states the identical computation).
    Q("c3_decontaminate",
      (s, d) => {
        // Shingle table materialized once (see t12/d5): the benchmark side,
        // the train side, and the per-doc size all reuse it from files
        // instead of re-shingling (and re-inlining the tokenizer into the
        // lambda) per branch.
        val dir = graft.Scratch.dir(s, "c3_shingles")
        val sh = Sources.checkpoint(tokenized(s, d)
          .select(col("doc_id"),
            array_distinct(shinglesNative(col("text"), 3)).as("sh")), dir)
        val bench = sh.filter(col("doc_id") % 20 === 0)
          .select(explode(col("sh")).as("g")).distinct()
        val train = sh.filter(col("doc_id") % 20 =!= 0)
        val hits = train.select(col("doc_id"), explode(col("sh")).as("g"))
          .join(bench, Seq("g"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
        train.select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_sh"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            round(coalesce(col("n_hits"), lit(0L)) * 1000.0 / col("n_sh"))
              .cast("long").as("overlap_x1000"))
          .withColumn("contaminated",
            (col("overlap_x1000") >= 200).cast("int"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlTok, s AS (
              |  SELECT doc_id,
              |    list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS sh
              |  FROM tok
              |), bench AS (
              |  SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 20 = 0
              |), train AS (
              |  SELECT * FROM s WHERE doc_id % 20 <> 0
              |), hits AS (
              |  SELECT tr.doc_id, count(*) AS n_hits
              |  FROM (SELECT doc_id, unnest(sh) AS g FROM train) tr
              |  JOIN bench USING (g) GROUP BY tr.doc_id
              |)
              |SELECT t.doc_id, len(t.sh) AS n_sh,
              |  coalesce(h.n_hits, 0) AS n_hits,
              |  CAST(round(coalesce(h.n_hits, 0) * 1000.0 / len(t.sh)) AS BIGINT)
              |    AS overlap_x1000,
              |  CAST(CAST(round(coalesce(h.n_hits, 0) * 1000.0 / len(t.sh)) AS BIGINT)
              |    >= 200 AS INT) AS contaminated
              |FROM train t LEFT JOIN hits h USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // C8: bloom-filter decontamination — c3's 100 TB shape. c3 joins every
    // train gram against the benchmark gram SET: correct, but the join
    // shuffles the full gram stream. At web scale the benchmark set is
    // tiny relative to the corpus, so the production gate is a bloom
    // sketch built ONCE over benchmark grams and probed map-side — zero
    // shuffle on the corpus, the sketch rides in the task binary
    // (operators/Bloom = the same expression pair Spark's own runtime
    // join filtering injects). Bloom has no false negatives, so it can
    // only OVER-flag: every c3-contaminated doc stays contaminated here.
    // The query carries its own evidence in-row (rows-only by design —
    // the sketch's bit pattern is engine-specific): the exact hit count
    // alongside the bloom count, their per-doc false-positive gap, and a
    // superset_ok flag the driver can see violated if the invariant ever
    // breaks; BloomSpec asserts the no-false-negative law and the FP
    // ceiling directly.
    Q("c8_bloom_decontaminate",
      (s, d) => {
        val dir = graft.Scratch.dir(s, "c8_shingles")
        val sh = Sources.checkpoint(tokenized(s, d)
          .select(col("doc_id"),
            array_distinct(shinglesNative(col("text"), 3)).as("sh")), dir)
        val bench = sh.filter(col("doc_id") % 20 === 0)
          .select(explode(col("sh")).as("g")).distinct()
        // ~1% FP at 64k expected items; sized by formula, not by counting
        // the set first (one pass, like production)
        val bloom = graft.operators.Bloom.build(bench, col("g"),
          expectedItems = 65536L,
          numBits = graft.operators.Bloom.optimalNumBits(65536L, 0.01))
        val grams = sh.filter(col("doc_id") % 20 =!= 0)
          .select(col("doc_id"), explode(col("sh")).as("g"))
        val bloomHits = grams
          .filter(graft.operators.Bloom.mightContain(bloom, col("g")))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_bloom"))
        val exactHits = grams
          .join(bench, Seq("g"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_exact"))
        sh.filter(col("doc_id") % 20 =!= 0)
          .select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"))
          .join(bloomHits, Seq("doc_id"), "left")
          .join(exactHits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_sh"),
            coalesce(col("n_bloom"), lit(0L)).as("n_bloom"),
            coalesce(col("n_exact"), lit(0L)).as("n_exact"))
          .select(col("doc_id"), col("n_sh"), col("n_bloom"), col("n_exact"),
            (col("n_bloom") - col("n_exact")).as("fp_grams"),
            (col("n_bloom") >= col("n_exact")).cast("int").as("superset_ok"),
            // n_sh = 0 (can't arise behind tokenized's >=3-token guard, but
            // the flag must be total): an empty shingle set overlaps nothing
            // — contaminated is 0, never NULL-from-division
            when(col("n_sh") > 0,
              (round(col("n_bloom") * 1000.0 / col("n_sh")).cast("long") >= 200)
                .cast("int")).otherwise(0).as("contaminated"))
          .orderBy("doc_id")
      },
      None),

    // C4: source-weighted mixture sampling — every LLM corpus is a weighted
    // mix of sources (web crawl downsampled, books upweighted, ...). The
    // keep rule is a deterministic hash threshold, NOT a seeded RNG: doc is
    // kept iff hash("mix:"+doc_id) % 1000 < weight_x1000(source). That makes
    // the sample reproducible across engines/runs/partitionings (so this
    // row is fully oracled where o5/o8 can't be) and map-side shuffle-free
    // until the tiny per-source accounting agg. Weights here derive from
    // the source name; a production mix joins a (source, weight) config dim
    // broadcast — the filter shape is identical. The conditional aggregate
    // reports kept/population counts and the kept char budget per source.
    Q("c4_mixture_sample",
      (s, d) => {
        val w = lit(100L) + pmod(hash32(col("source")), lit(900L))
        val b = pmod(hash32(concat(lit("mix:"), col("doc_id").cast("string"))),
          lit(1000L))
        documents(s, d)
          .groupBy(col("source"))
          .agg(max(w).as("weight_x1000"),
            count(lit(1)).as("pop_n"),
            sum((b < w).cast("long")).as("n_kept"),
            sum(when(b < w, col("n_chars")).otherwise(0L)).as("chars_kept"))
          .orderBy("source")
      },
      Some(s"""SELECT source,
              |  100 + ${sqlH32("source")} % 900 AS weight_x1000,
              |  count(*) AS pop_n,
              |  CAST(sum(CASE WHEN ${sqlH32("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000
              |    < 100 + ${sqlH32("source")} % 900 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              |  CAST(sum(CASE WHEN ${sqlH32("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000
              |    < 100 + ${sqlH32("source")} % 900 THEN n_chars ELSE 0 END) AS BIGINT)
              |    AS chars_kept
              |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // C6: per-domain cap — the over-representation guard every web-scale
    // corpus applies (no single domain/source may contribute more than 15
    // documents — the synthetic sources carry 25 each, so the cap binds; survivors are the best-quality ones, tie-broken stably).
    // One shuffle keyed on source, per-key rank window — topPerKey's shape,
    // never a global sort. Quality key = type/token ratio (the repetition
    // signal, x1000 integer so both engines rank identical values).
    Q("c6_domain_cap",
      (s, d) => {
        val cap = 15
        val ttr = round(size(array_distinct(col("w"))) * lit(1000.0)
          / size(col("w"))).cast("long")
        documents(s, d)
          .select(col("doc_id"), col("source"), tokens(col("text")).as("w"))
          .filter(size(col("w")) >= 3)
          .select(col("doc_id"), col("source"), ttr.as("ttr_x1000"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("source"))
              .orderBy(desc("ttr_x1000"), col("doc_id"))))
          .filter(col("rk") <= cap)
          .select(col("doc_id"), col("source"), col("ttr_x1000"),
            col("rk").cast("long").as("rk"))
          .orderBy("source", "rk")
      },
      Some(s"""WITH $sqlTok, sc AS (
              |  SELECT t.doc_id, d.source,
              |    CAST(round(len(list_distinct(w)) * 1000.0 / len(w)) AS BIGINT)
              |      AS ttr_x1000
              |  FROM tok t JOIN documents d ON t.doc_id = d.doc_id
              |), rk AS (
              |  SELECT doc_id, source, ttr_x1000,
              |    row_number() OVER (PARTITION BY source
              |      ORDER BY ttr_x1000 DESC, doc_id) AS rk
              |  FROM sc
              |)
              |SELECT doc_id, source, ttr_x1000, rk FROM rk WHERE rk <= 15
              |ORDER BY source, rk""".stripMargin)),

    // C7: deterministic epoch shuffle — training-order randomization that
    // is reproducible across reruns and engines: order by md5(epoch ||
    // doc_id). At scale this is a range-partitioned sort on the hash (no
    // single-partition window, same machinery as t9's GlobalRank); the
    // registered query takes the first 50 of epoch 3's order so the row
    // set stays driver-comparable. Two epochs of the same corpus share no
    // order (the salt changes every hash) — which is the whole point.
    Q("c7_epoch_shuffle",
      (s, d) => {
        val key = md5(concat(lit("epoch3:"), col("doc_id").cast("string")))
        documents(s, d)
          .select(col("doc_id"), key.as("shuffle_key"))
          .orderBy(col("shuffle_key"))
          .limit(50)
          // TinyWindow: the frame is the 50-row LIMIT slice above —
          // bounded by construction; the full-corpus ordering itself
          // stays a range-partitioned sort (no global window over it)
          .withColumn("pos",
            row_number().over(graft.operators.TinyWindow.total(col("shuffle_key"))(col("shuffle_key")))
              .cast("long"))
      },
      Some("""WITH k AS (
             |  SELECT doc_id, md5('epoch3:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
             |  FROM documents
             |), t AS (
             |  SELECT doc_id, shuffle_key FROM k ORDER BY shuffle_key LIMIT 50
             |)
             |SELECT doc_id, shuffle_key,
             |  row_number() OVER (ORDER BY shuffle_key) AS pos
             |FROM t ORDER BY shuffle_key""".stripMargin)),

    // T13: sliding-window chunking — the doc -> fixed-length training
    // sequence split every pretraining pipeline runs (context 32 tokens,
    // stride 24, so consecutive chunks overlap by 8). Map-side explode of
    // chunk starts; the only shuffle is the output ORDER BY. Chunk content
    // crosses the comparator as md5(joined tokens) — frame digests, not
    // megabytes of text (the m2_frame_sample convention).
    Q("t13_chunk",
      (s, d) => {
        val size_ = 32
        val stride = 24
        tokenized(s, d)
          .select(col("doc_id"), col("w"),
            posexplode(sequence(lit(0), size(col("w")) - 1, lit(stride)))
              .as(Seq("chunk_idx", "start")))
          .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
            slice(col("w"), col("start") + 1, lit(size_)).as("cw"))
          .select(col("doc_id"), col("chunk_idx"),
            size(col("cw")).cast("long").as("chunk_tokens"),
            md5(array_join(col("cw"), " ")).as("chunk_md5"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some(s"""WITH $sqlTok, st AS (
              |  SELECT doc_id, w,
              |    unnest(range(0, len(w), 24)) AS start
              |  FROM tok
              |)
              |SELECT doc_id, start // 24 AS chunk_idx,
              |  CAST(len(w[start + 1 : start + 32]) AS BIGINT) AS chunk_tokens,
              |  md5(array_to_string(w[start + 1 : start + 32], ' ')) AS chunk_md5
              |FROM st ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ----- similarity search over embeddings -----------------------------
    // E1: brute-force cosine top-k — the exact baseline. The (small) query
    // set is broadcast, so the big side streams once with no shuffle;
    // ranking is a per-query window, never a global sort.
    Q("e1_cosine_topk",
      (s, d) => {
        val emb = embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val q = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        graft.similarity.ExactCosine.topK(emb, q, 5)
          .select(col("q_id"), col("cand_id"), col("cos"),
            col("rn").cast("long").as("rn"))
          .orderBy("q_id", "rn")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
             |), q AS (
             |  SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3
             |), p AS (
             |  SELECT q_id, e.vec_id AS cand_id,
             |    round(list_sum([qv[i] * v[i] for i in range(1, len(v) + 1)])
             |      / (sqrt(list_sum([x*x for x in v])) * sqrt(list_sum([x*x for x in qv]))),
             |      5) AS cos
             |  FROM e CROSS JOIN q WHERE e.vec_id != q_id
             |), r AS (
             |  SELECT q_id, cand_id, cos,
             |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rn
             |  FROM p
             |)
             |SELECT q_id, cand_id, cos, rn FROM r WHERE rn <= 5
             |ORDER BY q_id, rn""".stripMargin)),

    // E2: LSH-bucketed ANN — the scale path. Vectors are bucketed by a sign
    // signature on fixed hyperplanes; candidates meet only inside their
    // bucket (equi-join on the bucket key), turning N^2 into sum(bucket^2).
    // At 100 TB the bit count grows and multi-probe widens recall; the plan
    // shape (bucket equi-join + per-key window) is unchanged.
    Q("e2_ann_buckets",
      (s, d) => {
        // per-vector norm precomputed before the bucket join (see e1 note);
        // repartition + shuffle-hash like d3: both sides of the self-join
        // become ONE reused exchange (cast+norm computed once), and nothing
        // assumes the vector table fits in a broadcast — at 100 TB it won't
        val emb = bucketedEmbeddings(s, d)
        emb.as("x")
          .join(emb.as("y").hint("shuffle_hash"),
            col("x.bucket") === col("y.bucket") && col("x.vec_id") =!= col("y.vec_id"))
          .select(col("x.vec_id").as("vec_id"), col("x.bucket").as("bucket"),
            col("y.vec_id").as("neighbor"),
            round(dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm")), 5).as("cos"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("vec_id")).orderBy(desc("cos"), col("neighbor")))
            .cast("long"))
          .filter(col("rn") <= 3)
          .orderBy("vec_id", "rn")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS v,
             |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
             |    + (CASE WHEN embedding[22] > 0 THEN 2 ELSE 0 END)
             |    + (CASE WHEN embedding[43] > 0 THEN 4 ELSE 0 END) AS bucket
             |  FROM embeddings
             |), p AS (
             |  SELECT x.vec_id AS vec_id, CAST(x.bucket AS BIGINT) AS bucket,
             |    y.vec_id AS neighbor,
             |    round(list_sum([x.v[i] * y.v[i] for i in range(1, len(x.v) + 1)])
             |      / (sqrt(list_sum([a*a for a in x.v])) * sqrt(list_sum([b*b for b in y.v]))),
             |      5) AS cos
             |  FROM e x JOIN e y ON x.bucket = y.bucket AND x.vec_id != y.vec_id
             |), r AS (
             |  SELECT vec_id, bucket, neighbor, cos,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor) AS rn
             |  FROM p
             |)
             |SELECT vec_id, bucket, neighbor, cos, rn FROM r WHERE rn <= 3
             |ORDER BY vec_id, rn""".stripMargin)),

    // E4: IVF approximate nearest neighbour — trained coarse quantizer
    // (k-means cells) + probed-cell candidate join (graft.similarity
    // .IvfIndex). Not SQL-expressible (model-based): rows-only here, so the
    // query output carries its OWN quality evidence — recall@5 vs the exact
    // brute-force top-5 (e1's logic) as a per-query recall_x1000 column,
    // stable under the fixed k-means seed. IvfIndexSpec asserts the same
    // recall floor as a test. The exact side is affordable because the
    // query set is tiny and broadcast; at corpus scale recall is estimated
    // the same way on a sampled query set, never all queries.
    Q("e4_ann_ivf",
      (s, d) => {
        val emb = ivfEmb(s, d)
        val model = ivfIndex.get(s, d)
        // e13's cut: the 5-row query frame feeds the probe join, the
        // exact baseline, and the recall join — cut, it is derived once
        val queries = graft.Scratch.cut(s, s"e4_q_${graft.Scratch.key(d)}")(
          emb.filter(col("vec_id") < 5)
            .select(col("vec_id").as("q_id"), col("v").as("qv"))
            .coalesce(1))
        val ivf = graft.similarity.IvfIndex.topK(model, queries, k = 5, nprobe = 2)
          .select(col("q_id"), col("cand_id"), round(col("cos"), 5).as("cos"),
            col("rn").cast("long").as("rn"))
        // the recall denominator is THE shared exact-baseline definition
        // (similarity/ExactCosine) — e1, this recall, and IvfIndexSpec can
        // never drift onto different tie-break or norm conventions
        val exact = graft.similarity.ExactCosine.topK(emb, queries, 5)
          .select(col("q_id"), col("cand_id"))
        val recall = ivf.select(col("q_id"), col("cand_id"))
          .join(exact, Seq("q_id", "cand_id"))
          .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
          .select(col("q_id"), (col("hits") * 200L).as("recall_x1000"))
        ivf.join(recall, Seq("q_id"), "left")
          .select(col("q_id"), col("cand_id"), col("cos"), col("rn"),
            coalesce(col("recall_x1000"), lit(0L)).as("recall_x1000"))
          .orderBy("q_id", "rn")
      },
      None,
      needs = Seq(ivfIndex)),

    // E13: ANN probe sweep — the nprobe tuning report an operator reads
    // before setting e4's production probe count: recall@10 against the
    // shared exact baseline (similarity/ExactCosine — the ONE recall
    // definition e1/e4/IvfIndexSpec all use) at nprobe = 1/2/4 over the
    // cached IVF index. Searching more cells is a superset scan, so
    // recall must be non-decreasing in nprobe — emitted in-row as the
    // monotone_ok evidence column (TinyWindow over the 3-row report).
    // Rows-only by design (k-means cells are engine-specific);
    // Round10LawsSpec holds the monotonicity and query-count laws.
    // Scale: each probe setting is e4's cell-pruned equi-join — the
    // sweep is 3 such scans, never an all-pairs.
    Q("e13_probe_sweep",
      (s, d) => {
        val emb = ivfEmb(s, d)
        val model = ivfIndex.get(s, d)
        // the query frame and the exact ground-truth pool are both
        // MATERIALIZED: the pool is the shared baseline of all three
        // probe settings (unmaterialized, each setting re-ran the
        // brute-force corpus pass — part of e13's 15 embeddings scans
        // in the round-14 census), and the 8-row query frame was
        // re-derived per setting per side; both are bounded, so
        // coalesce(1) is scale-safe
        val queries = graft.Scratch.cut(s, s"e13_q_${graft.Scratch.key(d)}")(
          emb.filter(col("vec_id") < 8)
            .select(col("vec_id").as("q_id"), col("v").as("qv"))
            .coalesce(1))
        val exact = graft.Scratch.cut(s, s"e13_exact_${graft.Scratch.key(d)}")(
          graft.similarity.ExactCosine.topK(emb, queries, 10)
            .select(col("q_id"), col("cand_id"))
            .coalesce(1))
        val perProbe = Seq(1, 2, 4).map { np =>
          val hits = graft.similarity.IvfIndex.topK(model, queries, 10, np)
            .select(col("q_id"), col("cand_id"))
            .join(exact, Seq("q_id", "cand_id"))
            .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
          queries.select(col("q_id")).join(hits, Seq("q_id"), "left")
            .agg(count(lit(1)).as("n_queries"),
              sum(coalesce(col("hits"), lit(0L))).as("total_hits"))
            .select(lit(np.toLong).as("nprobe"), col("n_queries"),
              col("total_hits"),
              expr("total_hits * 10000 div (n_queries * 10)")
                .as("recall_x1e4"))
        }.reduce(_.unionByName(_))
        perProbe.withColumn("monotone_ok",
          (col("recall_x1e4") >= coalesce(
            lag(col("recall_x1e4"), 1).over(
              // 3 rows by construction (one per probed setting)
              graft.operators.TinyWindow.total(col("nprobe"))(col("nprobe"))),
            lit(0L))).cast("int"))
          .orderBy("nprobe")
      },
      None,
      needs = Seq(ivfIndex)),

    // E5: int8 vector quantization — the memory lever every vector store
    // pulls at scale (4x smaller than float32, 8x than float64; the probe
    // join in e2/e4 then streams a quarter of the bytes). Symmetric
    // per-vector scheme: scale = max|x|/127, q_i = round(x_i/scale) — all
    // deterministic arithmetic, so unlike learned codebooks the whole row
    // is oracled. cos_recon measures reconstruction quality in-row
    // (cosine between the original and the dequantized vector; the scale
    // cancels algebraically, so it is computed scale-free). Map-side only:
    // one projection, no shuffle until the ORDER BY.
    Q("e5_quantize",
      (s, d) => {
        val emb = ivfEmb(s, d)
        // scale projected to its own column FIRST: referenced inside the
        // quantize lambda it would re-scan the vector per element (no CSE
        // inside HOF lambdas)
        val scaled = emb.select(col("vec_id"), col("v"),
          (array_max(transform(col("v"), x => abs(x))) / 127.0).as("scale"))
          // an all-zero vector has no scale: round(0/0) would NaN-crash the
          // ANSI long cast in BOTH engines. Zero vectors are unquantizable
          // by this scheme — dropped, as the oracle's WHERE states.
          .filter(col("scale") > 0)
        val q = scaled.select(col("vec_id"), col("v"), col("scale"),
          transform(col("v"), x => round(x / col("scale")).cast("long")).as("qv"))
        q.select(col("vec_id"),
            round(col("scale") * 1e9).cast("long").as("scale_x1e9"),
            aggregate(col("qv"), lit(0L), (a, x) => a + x).as("q_sum"),
            array_max(transform(col("qv"), x => abs(x))).as("q_max_abs"),
            round(dot(col("qv").cast("array<double>"), col("v"))
              / (l2Norm(col("v")) * l2Norm(col("qv").cast("array<double>"))), 5)
              .as("cos_recon"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
             |), s AS (
             |  SELECT vec_id, v,
             |    list_max([abs(x) for x in v]) / 127.0 AS scale
             |  FROM e
             |  WHERE list_max([abs(x) for x in v]) / 127.0 > 0
             |), q AS (
             |  SELECT vec_id, v, scale,
             |    [CAST(round(x / scale) AS BIGINT) for x in v] AS qv
             |  FROM s
             |)
             |SELECT vec_id,
             |  CAST(round(scale * 1e9) AS BIGINT) AS scale_x1e9,
             |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
             |  CAST(list_max([abs(x) for x in qv]) AS BIGINT) AS q_max_abs,
             |  round(list_sum([qv[i] * v[i] for i in range(1, len(v) + 1)])
             |    / (sqrt(list_sum([x*x for x in v]))
             |       * sqrt(list_sum([CAST(y AS DOUBLE)*y for y in qv]))), 5)
             |    AS cos_recon
             |FROM q ORDER BY vec_id""".stripMargin)),

    // E12: Johnson-Lindenstrauss random projection of the quantized
    // embeddings to an 8-long signature — the dimension-reduction sketch
    // a 100 TB vector pipeline stores NEXT TO its ANN index (8 longs vs
    // 64 floats; candidate prefilter by signature distance before exact
    // re-rank). Sign-random-projection (Achlioptas ±1) with the signs
    // DERIVED FROM md5 of "rp:<j>:<i>" — a pure function of the
    // coordinate, so the projection matrix is reproducible anywhere and
    // never shipped; computed DRIVER-SIDE once (512 hashes — the same
    // Md5Hash32 kernel the SQL face uses) and inlined as literal arrays,
    // so the per-row work is 8 integer dot products, zero per-row
    // hashing. Input is e5's int8 quantization, so the entire projection
    // is exact integer arithmetic — EXACTLY oracled, where a float
    // Gaussian projection could never be. The quantized vector is
    // materialized to scratch first: 8 signature columns reference it 8
    // times, and left lazy CollapseProject would re-inline the
    // round(x/scale) transform into every reference (the t6/t21 hazard
    // class).
    Q("e12_random_projection",
      (s, d) => {
        val dims = 64; val k = 8
        val signs: Array[Array[Long]] = Array.tabulate(k, dims) { (j, i) =>
          if (graft.expressions.Md5Hash32
            .hashBytes(s"rp:$j:$i".getBytes("UTF-8")) % 2 == 0) 1L else -1L
        }
        val scaled = ivfEmb(s, d).select(col("vec_id"), col("v"),
          (array_max(transform(col("v"), x => abs(x))) / 127.0).as("scale"))
          .filter(col("scale") > 0)
        val q = Sources.checkpoint(scaled.select(col("vec_id"),
          transform(col("v"), x => round(x / col("scale")).cast("long"))
            .as("qv")), graft.Scratch.dir(s, "e12_qv"))
        val pCols = (0 until k).map { j =>
          aggregate(zip_with(col("qv"), array(signs(j).map(lit).toSeq: _*),
            (x, sg) => x * sg), lit(0L), _ + _).as(s"p$j")
        }
        q.select(col("vec_id") +: pCols: _*)
          .withColumn("l1", (0 until k).map(j => abs(col(s"p$j")))
            .reduce(_ + _))
          .orderBy("vec_id")
      },
      Some {
        def h32(e: String) = s"('0x' || substr(md5($e), 1, 8))::BIGINT"
        def sj(j: Int) =
          s"[CASE WHEN ${h32(s"'rp:$j:' || CAST(i - 1 AS VARCHAR)")} % 2 = 0 " +
            "THEN 1::BIGINT ELSE -1::BIGINT END FOR i IN range(1, 65)]"
        val proj = (0 until 8).map(j =>
          s"CAST(list_sum([qv[i] * sm.s$j[i] FOR i IN range(1, 65)]) " +
            s"AS BIGINT) AS p$j").mkString(",\n    ")
        s"""WITH e AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           |), s AS (
           |  SELECT vec_id, v, list_max([abs(x) for x in v]) / 127.0 AS scale
           |  FROM e WHERE list_max([abs(x) for x in v]) / 127.0 > 0
           |), q AS (
           |  SELECT vec_id, [CAST(round(x / scale) AS BIGINT) for x in v] AS qv
           |  FROM s
           |), sm AS (
           |  SELECT ${(0 until 8).map(j => sj(j) + s" AS s$j").mkString(",\n    ")}
           |), p AS (
           |  SELECT vec_id, $proj
           |  FROM q CROSS JOIN sm
           |)
           |SELECT vec_id, p0, p1, p2, p3, p4, p5, p6, p7,
           |  abs(p0)+abs(p1)+abs(p2)+abs(p3)+abs(p4)+abs(p5)+abs(p6)+abs(p7)
           |    AS l1
           |FROM p ORDER BY vec_id""".stripMargin
      }),

    // E6: SemDeDup — semantic dedup via cluster-then-compare (Abbas et al.
    // 2023, arXiv:2303.09540): k-means partitions the corpus, pairwise
    // cosine runs WITHIN cells only (sum of cell^2, never N^2), and within
    // a duplicate pair the member MORE similar to its centroid is dropped
    // (the paper's keep-the-outlier rule — survivors preserve diversity).
    // The quantizer is e4's cached IVF model reused verbatim — one trained
    // artifact serving both ANN search and semantic dedup is exactly the
    // registry contract; the planted batch is routed to cells by
    // IvfIndex.assign (map-side, no refit), the incremental-ingest shape.
    //
    // E7: product-quantization ANN (similarity/PqIndex) — the
    // compressed-scan path beside e1 (brute force), e2 (LSH buckets) and
    // e4 (IVF cells): corpus vectors stored as 16 codebook codes (m=16,
    // k=32 per pqIndex — 32x smaller than the 64-dim float64 vector),
    // queries score the whole compressed corpus
    // through a per-query ADC lookup table. SELF-EVIDENCING like e4: each
    // query row carries the overlap between its ADC top-10 and the exact
    // squared-L2 top-10 computed in the same query, so recall is read
    // directly off the result; PqIndexSpec pins the floor. Codebooks are
    // seeded k-means -> deterministic; engine-specific -> rows-only.
    Q("e7_pq_adc",
      (s, d) => {
        val emb = ivfEmb(s, d)
        val model = pqIndex.get(s, d)
        // e13's cut: the 10-row query frame feeds ADC, the exact
        // baseline broadcast, and the final joins
        val queries = graft.Scratch.cut(s, s"e7_q_${graft.Scratch.key(d)}")(
          emb.filter(col("vec_id") < 10)
            .select(col("vec_id").as("q_id"), col("v").as("qv"))
            .coalesce(1))
        val approx = graft.similarity.PqIndex.adcTopK(model, queries, 10)
        val exact = emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            (dot(col("v"), col("v")) + dot(col("qv"), col("qv"))
              - lit(2.0) * dot(col("v"), col("qv"))).as("d2"))
          .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
            Window.partitionBy(col("q_id"))
              .orderBy(col("d2"), col("vec_id"))))
          .filter(col("rn") <= 10)
          .select(col("q_id"), col("vec_id").as("cand_id"))
        val overlap = approx.select(col("q_id"), col("cand_id"))
          .intersect(exact)
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap"))
        queries.select(col("q_id"))
          .join(overlap, Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
            lit(10).as("k"))
          .orderBy(col("q_id"))
      },
      None,
      needs = Seq(pqIndex)),

    // E8: IVF-PQ — the production composition of the two trained indexes
    // (the FAISS shape): the IVF quantizer prunes WHICH vectors to read
    // (nprobe nearest cells), PQ compresses WHAT is read (ADC scoring
    // inside the probed lists only). Both artifacts come from the same
    // caches e4/e7 use, so the composition costs no extra training.
    // Self-evidencing: per query, the overlap of IVF-PQ top-10 vs the
    // exact squared-L2 top-10 AND the probed-candidate count — recall
    // splits into "IVF missed the cell" vs "PQ misranked inside it",
    // and n_cand shows the read amplification the cell pruning saved.
    Q("e8_ivfpq",
      (s, d) => {
        val emb = ivfEmb(s, d)
        val ivf = ivfIndex.get(s, d)
        val pq = pqIndex.get(s, d)
        // e13's cut: the 10-row query frame feeds probe, ADC, the exact
        // baseline broadcast, and the final left joins
        val queries = graft.Scratch.cut(s, s"e8_q_${graft.Scratch.key(d)}")(
          emb.filter(col("vec_id") < 10)
            .select(col("vec_id").as("q_id"), col("v").as("qv"))
            .coalesce(1))
        // self-pairs out up front: adcTopKWithin excludes vec_id == q_id
        // anyway, so counting them in n_cand overstated the read
        // amplification by 1 per query (every query sits in its own
        // probed cell)
        val cand = graft.similarity.IvfIndex.probe(ivf, queries, nprobe = 3)
          .select(col("q_id"), col("cell_id"))
          .join(ivf.assigned.select(col("vec_id"), col("cell_id")),
            Seq("cell_id"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"))
        val approx = graft.similarity.PqIndex
          .adcTopKWithin(pq, queries, cand, 10)
        val exact = emb.join(broadcast(queries), col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            (dot(col("v"), col("v")) + dot(col("qv"), col("qv"))
              - lit(2.0) * dot(col("v"), col("qv"))).as("d2"))
          .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
            Window.partitionBy(col("q_id"))
              .orderBy(col("d2"), col("vec_id"))))
          .filter(col("rn") <= 10)
          .select(col("q_id"), col("vec_id").as("cand_id"))
        val overlap = approx.select(col("q_id"), col("cand_id"))
          .intersect(exact)
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap"))
        val nc = cand.groupBy(col("q_id")).agg(count(lit(1)).as("n_cand"))
        queries.select(col("q_id"))
          .join(overlap, Seq("q_id"), "left")
          .join(nc, Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
            coalesce(col("n_cand"), lit(0L)).as("n_cand"),
            lit(10).as("k"))
          .orderBy(col("q_id"))
      },
      None,
      needs = Seq(ivfIndex, pqIndex)),

    // E9: IVF index MAINTENANCE without refit — the d8/u4 ledger
    // discipline applied to the vector index: the trained quantizer and
    // its assigned table are persisted artifacts, and a delete batch
    // (tombstone anti-join on the inverted lists) plus an insert batch
    // (IvfIndex.assign routes new vectors map-side) produce the next
    // index state with NO k-means refit and no corpus rescan. Search
    // then runs against the maintained index. SELF-EVIDENCING: each
    // query row asserts its planted duplicate (inserted at id+50000,
    // cosine ~1) ranks first (`top1_planted`), carries zero results
    // from the deleted set (`n_deleted_hits`), and repeats the exact
    // n_after == n_base - n_del + n_ins bookkeeping. k-means cells are
    // engine-specific -> rows-only (IvfIndexSpec holds the laws).
    Q("e9_ivf_maintain",
      (s, d) => {
        import graft.similarity.IvfIndex
        val emb = ivfEmb(s, d)
        val ivf = ivfIndex.get(s, d)
        val deletes = ivf.assigned.filter(col("vec_id") % 10 === 3)
          .select(col("vec_id"))
        val inserts = graft.Scratch.cut(s, s"e9_ins_${graft.Scratch.key(d)}")(
          emb.filter(col("vec_id") < 3)
            .select((col("vec_id") + 50000L).as("vec_id"),
              transform(col("v"),
                (x, i) => when(i === 0, x * 1.02 + 0.01).otherwise(x * 1.02))
                .as("v"))
            .coalesce(1))
        val maintained = IvfIndex.Model(ivf.centroids,
          ivf.assigned.join(deletes, Seq("vec_id"), "left_anti")
            .unionByName(IvfIndex.assign(ivf, inserts)
              .select(col("vec_id"), col("v"), col("cell_id"), col("nrm"))))
        val queries = graft.Scratch.cut(s, s"e9_q_${graft.Scratch.key(d)}")(
          emb.filter(col("vec_id") < 3)
            .select(col("vec_id").as("q_id"), col("v").as("qv"))
            .coalesce(1))
        val hits = IvfIndex.topK(maintained, queries, k = 5, nprobe = 2)
        val counts = ivf.assigned.agg(count(lit(1)).as("n_base"))
          .crossJoin(deletes.agg(count(lit(1)).as("n_del")))
          .crossJoin(inserts.agg(count(lit(1)).as("n_ins")))
        hits.groupBy(col("q_id"))
          .agg(min(when(col("rn") === 1, col("cand_id"))).as("top1_id"),
            sum(when(col("cand_id") === col("q_id") + 50000L, 1)
              .otherwise(0)).cast("long").as("planted_hits"),
            sum(when(col("cand_id") % 10 === 3, 1).otherwise(0))
              .cast("long").as("n_deleted_hits"),
            count(lit(1)).as("n_results"))
          .withColumn("top1_planted",
            (col("top1_id") === col("q_id") + 50000L).cast("int"))
          .crossJoin(broadcast(counts))
          .select(col("q_id"), col("top1_id"), col("top1_planted"),
            col("planted_hits"), col("n_deleted_hits"), col("n_results"),
            col("n_base"), col("n_del"), col("n_ins"),
            (col("n_base") - col("n_del") + col("n_ins")).as("n_after"))
          .orderBy(col("q_id"))
      },
      None,
      needs = Seq(ivfIndex)),

    // The synthetic embeddings have no natural near-dups (max pairwise
    // cosine ~0.51), so the query plants them the way d8 plants exact text
    // dups: vec_id < 25 re-enters at id+10000 scaled by 1.02 with one
    // nudged coordinate — cosine ~1 with its source, unchanged vs everyone
    // else. Ground truth is therefore known in-query: a flagged pair is
    // TRUE iff its ids differ by exactly 10000, surfaced per-row as
    // `planted` (precision evidence) — SemdedupSpec asserts the recall
    // side. k-means output is engine-specific -> rows-only by design.
    Q("e6_semdedup",
      (s, d) => {
        val base = ivfEmb(s, d)
        val planted = base.filter(col("vec_id") < 25)
          .select((col("vec_id") + 10000L).as("vec_id"),
            transform(col("v"),
              (x, i) => when(i === 0, x * 1.02 + 0.01).otherwise(x * 1.02))
              .as("v"))
        val corpus = base.unionByName(planted)
        val assigned = graft.similarity.IvfIndex
          .assign(ivfIndex.get(s, d), corpus)
          .repartition(col("cell_id"))
        val pairs = assigned.as("x")
          .join(assigned.as("y").hint("shuffle_hash"),
            col("x.cell_id") === col("y.cell_id")
              && col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
            col("x.cell_id").as("cell_id"),
            (dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm")))
              .as("cos"),
            col("x.csim").as("a_csim"), col("y.csim").as("b_csim"))
          .filter(col("cos") >= 0.8)
        pairs
          .select(
            when(struct(col("a_csim"), col("a_id"))
                   > struct(col("b_csim"), col("b_id")), col("a_id"))
              .otherwise(col("b_id")).as("drop_id"),
            when(struct(col("a_csim"), col("a_id"))
                   > struct(col("b_csim"), col("b_id")), col("b_id"))
              .otherwise(col("a_id")).as("kept_id"),
            col("cell_id"), col("cos"),
            (col("b_id") - col("a_id") === 10000L).cast("int").as("planted"))
          .groupBy(col("drop_id"))
          .agg(min(col("kept_id")).as("kept_id"),
            max(col("cell_id")).cast("long").as("cell_id"),
            round(max(col("cos")) * 100000).cast("long").as("cos_x100000"),
            min(col("planted")).cast("long").as("planted"))
          .orderBy("drop_id")
      },
      None,
      needs = Seq(ivfIndex)),

    // E3: embedding-cosine near-duplicate detection — the dedup decision on
    // top of the bucketed candidate generation (same bucket join as e2, so
    // never all-pairs): pairs above the cosine threshold, keep-min-id rule.
    Q("e3_embed_neardup",
      (s, d) => {
        // same single-computation shuffle diamond as e2
        val emb = bucketedEmbeddings(s, d)
        emb.as("x")
          .join(emb.as("y").hint("shuffle_hash"),
            col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("keep_id"), col("y.vec_id").as("dup_id"),
            round(dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm")), 5).as("cos"))
          .filter(col("cos") > 0.45)
          .orderBy("keep_id", "dup_id")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS v,
             |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
             |    + (CASE WHEN embedding[22] > 0 THEN 2 ELSE 0 END)
             |    + (CASE WHEN embedding[43] > 0 THEN 4 ELSE 0 END) AS bucket
             |  FROM embeddings
             |), p AS (
             |  SELECT x.vec_id AS keep_id, y.vec_id AS dup_id,
             |    round(list_sum([x.v[i] * y.v[i] for i in range(1, len(x.v) + 1)])
             |      / (sqrt(list_sum([a*a for a in x.v])) * sqrt(list_sum([b*b for b in y.v]))),
             |      5) AS cos
             |  FROM e x JOIN e y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
             |)
             |SELECT keep_id, dup_id, cos FROM p WHERE cos > 0.45
             |ORDER BY keep_id, dup_id""".stripMargin)),

    // ----- metadata/genre pipeline ---------------------------------------
    // G1: the EDA genre flow end-to-end (graft.meta.GenrePipeline): per-key
    // {tag -> score} maps, explode(map_keys) popularity rank, map-HOF argmax
    // with the reference's tie rule (best global rank wins), keyed join glue.
    Q("g1_dominant_tag",
      (s, d) => graft.meta.GenrePipeline
        .dominant(events(s, d), "user_id", "event_type", "value",
          cutName = Some(s"g1_maps_${graft.Scratch.key(d)}"))
        .orderBy("user_id"),
      Some("""WITH sc AS (
             |  SELECT user_id, event_type,
             |    CAST(round(sum(value) * 100) AS BIGINT) AS score_c
             |  FROM events GROUP BY 1, 2
             |), mx AS (
             |  SELECT user_id, max(score_c) AS m FROM sc GROUP BY 1
             |), pop AS (
             |  SELECT event_type, count(DISTINCT user_id) AS n_keys
             |  FROM events GROUP BY 1
             |), rk AS (
             |  SELECT event_type,
             |    row_number() OVER (ORDER BY n_keys DESC, event_type) AS pop_rank
             |  FROM pop
             |), cand AS (
             |  SELECT sc.user_id, sc.event_type, sc.score_c, rk.pop_rank
             |  FROM sc
             |  JOIN mx ON sc.user_id = mx.user_id AND sc.score_c = mx.m
             |  JOIN rk ON sc.event_type = rk.event_type
             |), pick AS (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY user_id ORDER BY pop_rank, event_type) AS rn
             |  FROM cand
             |)
             |SELECT user_id, event_type AS dom_tag, score_c, pop_rank
             |FROM pick WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // ----- multimodal columns --------------------------------------------
    // M1: binary payload + typed metadata. The payload column is real
    // BinaryType (utf8 bytes here; image/audio bytes in production) and the
    // "decode" stays columnar: byte length, content digest, deterministic
    // pseudo-dimensions. The non-SQL half (batch decode via mapPartitions)
    // lives in graft.multimodal.BinaryPipeline with its own spec.
    Q("m1_binary_meta",
      (s, d) => {
        val payload = col("text").cast("binary")
        documents(s, d)
          .select(col("doc_id"), payload.as("payload"), col("n_chars"))
          .select(col("doc_id"),
            octet_length(col("payload")).cast("long").as("n_bytes"),
            md5(col("payload")).as("digest"),
            (hash32(col("payload").cast("string")) % 1280 + 64).as("fake_width"),
            (hash32(reverse(col("payload").cast("string"))) % 720 + 64).as("fake_height"),
            (col("n_chars") % 3 + 1).as("channels"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
              |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
              |  md5(text) AS digest,
              |  ${sqlH32("text")} % 1280 + 64 AS fake_width,
              |  ${sqlH32("reverse(text)")} % 720 + 64 AS fake_height,
              |  n_chars % 3 + 1 AS channels
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // M2 (multimodal): frame sampling registered end-to-end — the 1→N
    // video shape through graft.multimodal.BinaryPipeline.sampleFrames
    // (every stride-th fixed-size byte frame of the payload, streamed
    // flatMap inside the partition, no shuffle of payload bytes). The
    // oracle engine cannot slice BLOBs, so the query restricts to payloads
    // where bytes == chars — asserted in BOTH engines via octet_length =
    // length — where char substrings ARE the byte frames and the per-frame
    // md5 digests must agree exactly.
    Q("m2_frame_sample",
      (s, d) => {
        val ascii = documents(s, d)
          .filter(octet_length(col("text")) === length(col("text")))
        val frames = graft.multimodal.BinaryPipeline.sampleFrames(
          graft.multimodal.BinaryPipeline.mediaRecords(ascii),
          frameSize = 64, stride = 2)
        frames.select(col("media_id"),
            col("frame_idx").cast("long").as("frame_idx"),
            md5(col("frame_bytes")).as("frame_md5"),
            octet_length(col("frame_bytes")).cast("long").as("frame_len"))
          .orderBy("media_id", "frame_idx")
      },
      Some("""WITH a AS (
             |  SELECT doc_id AS media_id, text FROM documents
             |  WHERE octet_length(encode(text)) = length(text)
             |), idx AS (
             |  SELECT media_id, text,
             |    unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT), 2)) AS frame_idx
             |  FROM a
             |)
             |SELECT media_id, frame_idx,
             |  md5(substring(text, CAST(frame_idx * 64 + 1 AS BIGINT), 64)) AS frame_md5,
             |  CAST(length(substring(text, CAST(frame_idx * 64 + 1 AS BIGINT), 64)) AS BIGINT)
             |    AS frame_len
             |FROM idx ORDER BY media_id, frame_idx""".stripMargin)),

    // U1: MERGE-style snapshot upsert — the corpus-maintenance primitive
    // every living dataset needs: apply a change batch (updates, inserts,
    // tombstone deletes) to the previous snapshot. The scalable shape is
    // anti-join(base, change keys) ∪ surviving changes — one shuffle on the
    // key; at 100 TB the same plan runs as copy-on-write over only the
    // PARTITIONS the change keys touch (hash/range-partitioned base +
    // partition-pruned rewrite), which is exactly what table formats like
    // Iceberg/Delta execute underneath. The change batch here is derived
    // deterministically from the base so the oracle sees the same inputs;
    // text crosses the comparator as md5 digests (m2's convention).
    Q("u1_upsert",
      (s, d) => {
        val base = documents(s, d).select(col("doc_id"), col("text"))
        val changes = changeBatch(s, d, base)
        val merged = base
          .join(changes.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("text"), lit(1L).as("rev"))
          .unionByName(changes.filter(col("op") =!= "D")
            .select(col("doc_id"), col("text"), col("rev")))
        merged.select(col("doc_id"), col("rev"), md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlChanges,
              |merged AS (
              |  SELECT b.doc_id, b.text, 1 AS rev FROM base b
              |  WHERE b.doc_id NOT IN (SELECT doc_id FROM changes)
              |  UNION ALL
              |  SELECT doc_id, text, rev FROM changes WHERE op <> 'D'
              |)
              |SELECT doc_id, CAST(rev AS BIGINT) AS rev, md5(text) AS text_md5
              |FROM merged ORDER BY doc_id""".stripMargin)),

    // U10: MERGE-ON-READ — the read-path dual of u1's copy-on-write
    // upsert: the base stays untouched, change logs accumulate, and
    // the READ merges them — per key, the row from the HIGHEST-version
    // source wins (delete markers included), which is one row_number
    // window over the version-stamped union, never an N-way join
    // chain. Two delta logs on purpose: log 2 overwrites a subset of
    // log 1's updates (doc_id % 14 — last-writer-wins ACROSS logs, the
    // case a single-delta test can't catch) and tombstones a subset of
    // log 1's INSERTS (delta-on-delta: a key that never existed in the
    // base appears and dies entirely inside the log stack). Each log
    // carries a key at most once, so (doc_id, ver) is unique and the
    // window's (ver desc) order is total. Scale shape: the union is
    // scan-parallel, the merge is ONE shuffle on doc_id; log compaction
    // (folding this read plan back into a new base) is exactly u1.
    Q("u10_mor_read",
      (s, d) => {
        val base = documents(s, d).select(col("doc_id"), col("text"))
        val d1 = changeBatch(s, d, base).withColumn("ver", lit(1L))
        val d2 = deltaLog2(s, d, base)
        val stacked = base
          .select(col("doc_id"), col("text"), lit(1L).as("rev"),
            lit("B").as("op"), lit(0L).as("ver"))
          .unionByName(d1).unionByName(d2)
        val byKey = Window.partitionBy(col("doc_id"))
          .orderBy(col("ver").desc)
        stacked.withColumn("rn", row_number().over(byKey))
          .filter(col("rn") === 1 && col("op") =!= "D")
          .select(col("doc_id"), col("rev"), col("ver"),
            md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlChanges,
              |d2 AS (
              |  SELECT doc_id, text || ' [rev3]' AS text, 3 AS rev,
              |    'U' AS op, 2 AS ver
              |  FROM base WHERE doc_id % 14 = 0
              |  UNION ALL
              |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM base),
              |    NULL, 0, 'D', 2
              |  FROM base WHERE doc_id % 13 = 3 AND doc_id % 2 = 0
              |), stacked AS (
              |  SELECT doc_id, text, 1 AS rev, 'B' AS op, 0 AS ver
              |  FROM base
              |  UNION ALL
              |  SELECT doc_id, text, rev, op, 1 FROM changes
              |  UNION ALL
              |  SELECT * FROM d2
              |), merged AS (
              |  SELECT doc_id, text, rev, op, ver,
              |    row_number() OVER (PARTITION BY doc_id
              |      ORDER BY ver DESC) AS rn
              |  FROM stacked
              |)
              |SELECT doc_id, CAST(rev AS BIGINT) AS rev,
              |  CAST(ver AS BIGINT) AS ver, md5(text) AS text_md5
              |FROM merged WHERE rn = 1 AND op <> 'D'
              |ORDER BY doc_id""".stripMargin)),

    // U11: LOG COMPACTION — the lifecycle step that makes u10's
    // merge-on-read safe at scale (an unbounded log chain is the
    // real-world MoR failure mode: every read pays the whole stack).
    // The fold is exactly u1's copy-on-write plan applied to the per-key
    // log WINNERS: one window picks the highest-version log row per key
    // (each log carries a key at most once, so the order is total), then
    // anti-join(base, winner keys) ∪ surviving non-delete winners — a
    // winning tombstone removes its key from the new base entirely,
    // including the delta-on-delta case where the key never existed in
    // the base. The new base is MATERIALIZED as a real store (scratch
    // parquet) and read back, so the registered plan is a store read,
    // not a lineage replay. The oracle is u10's MoR SQL VERBATIM: the
    // oracled statement IS the law read-after-compaction ≡ merge-on-read.
    // The follow-on law — the compacted store under ONE new delta reads
    // identically to the original three-log stack under that delta —
    // is SnapshotStoreSpec's compaction case. At 100 TB: compaction runs
    // as u1 (one shuffle on the key, partition-pruned rewrite) and
    // resets every subsequent read from an N-log merge to a plain scan.
    Q("u11_log_compact",
      (s, d) => {
        val base = documents(s, d).select(col("doc_id"), col("text"))
        val d1 = changeBatch(s, d, base).withColumn("ver", lit(1L))
        val d2 = deltaLog2(s, d, base)
        val byKey = Window.partitionBy(col("doc_id"))
          .orderBy(col("ver").desc)
        val winners = d1.unionByName(d2)
          .withColumn("rn", row_number().over(byKey))
          .filter(col("rn") === 1)
        val compacted = base
          .join(winners.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("text"),
            lit(1L).as("rev"), lit(0L).as("ver"))
          .unionByName(winners.filter(col("op") =!= "D")
            .select(col("doc_id"), col("text"), col("rev"), col("ver")))
        Sources.checkpoint(compacted,
            graft.Scratch.dir(s, s"u11_base_${graft.Scratch.key(d)}"))
          .select(col("doc_id"), col("rev"), col("ver"),
            md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlChanges,
              |d2 AS (
              |  SELECT doc_id, text || ' [rev3]' AS text, 3 AS rev,
              |    'U' AS op, 2 AS ver
              |  FROM base WHERE doc_id % 14 = 0
              |  UNION ALL
              |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM base),
              |    NULL, 0, 'D', 2
              |  FROM base WHERE doc_id % 13 = 3 AND doc_id % 2 = 0
              |), stacked AS (
              |  SELECT doc_id, text, 1 AS rev, 'B' AS op, 0 AS ver
              |  FROM base
              |  UNION ALL
              |  SELECT doc_id, text, rev, op, 1 FROM changes
              |  UNION ALL
              |  SELECT * FROM d2
              |), merged AS (
              |  SELECT doc_id, text, rev, op, ver,
              |    row_number() OVER (PARTITION BY doc_id
              |      ORDER BY ver DESC) AS rn
              |  FROM stacked
              |)
              |SELECT doc_id, CAST(rev AS BIGINT) AS rev,
              |  CAST(ver AS BIGINT) AS ver, md5(text) AS text_md5
              |FROM merged WHERE rn = 1 AND op <> 'D'
              |ORDER BY doc_id""".stripMargin)),

    // U2: snapshot diff — added/removed/changed rows between two corpus
    // snapshots by content digest, the audit/incremental-processing
    // counterpart of u1 (downstream consumers reprocess ONLY this delta,
    // not the full snapshot). One full-outer join on the key; digests are
    // computed map-side so the shuffle carries (id, md5), never document
    // bodies — at 100 TB that is the difference between a join on ~32
    // bytes/row and one on whole documents.
    Q("u2_snapshot_diff",
      (s, d) => {
        val base = documents(s, d).select(col("doc_id"), col("text"))
        val changes = changeBatch(s, d, base)
        val merged = base
          .join(changes.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("text"))
          .unionByName(changes.filter(col("op") =!= "D")
            .select(col("doc_id"), col("text")))
        val o = base.select(col("doc_id"), md5(col("text")).as("old_md5"))
        val n = merged.select(col("doc_id"), md5(col("text")).as("new_md5"))
        o.join(n, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            when(col("old_md5").isNull, lit("added"))
              .when(col("new_md5").isNull, lit("removed"))
              .when(col("old_md5") =!= col("new_md5"), lit("changed"))
              .otherwise(lit("same")).as("status"))
          .filter(col("status") =!= "same")
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlChanges,
              |merged AS (
              |  SELECT b.doc_id, b.text FROM base b
              |  WHERE b.doc_id NOT IN (SELECT doc_id FROM changes)
              |  UNION ALL
              |  SELECT doc_id, text FROM changes WHERE op <> 'D'
              |),
              |o AS (SELECT doc_id, md5(text) AS old_md5 FROM base),
              |n AS (SELECT doc_id, md5(text) AS new_md5 FROM merged),
              |j AS (
              |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
              |    CASE WHEN o.doc_id IS NULL THEN 'added'
              |         WHEN n.doc_id IS NULL THEN 'removed'
              |         WHEN o.old_md5 <> n.new_md5 THEN 'changed'
              |         ELSE 'same' END AS status
              |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
              |)
              |SELECT doc_id, status FROM j WHERE status <> 'same'
              |ORDER BY doc_id""".stripMargin)),

    // U4: incremental aggregate-ledger maintenance — the materialized-view
    // pattern every warehouse runs at scale: per-key partial-aggregate
    // state (count, exact integer-cent sum, first/last seen) is PERSISTED
    // as a ledger; a new batch is aggregated ALONE and merged into the
    // ledger by re-aggregating the union of two tiny keyed states — the
    // base corpus is never rescanned. All four aggregates are associative
    // merges (sum/sum/min/max), which is precisely what makes them
    // maintainable; avg/percentiles ride on top of (sum, n) or a sketch
    // (a17/a18). At 100 TB the ledger is one row per key — the merge
    // shuffles kilobytes while a full recompute would rescan the corpus.
    // The oracle IS the full recompute: merged ledger == recompute is the
    // correctness statement of incremental view maintenance. Cents are
    // exact longs (2-dp premise, DecisionAudit), timestamps exact nanos.
    Q("u4_agg_ledger",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"), col("event_id"),
          col("ts"), round(col("value") * 100).cast("long").as("cents"))
        def partial(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("user_id"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("cents")).as("sum_cents"),
              min(col("ts")).as("first_ns"), max(col("ts")).as("last_ns"))
        Sources.checkpoint(partial(ev.filter(col("event_id") % 5 =!= 4)),
            graft.Scratch.dir(s, "u4_ledger"))
          .unionByName(partial(ev.filter(col("event_id") % 5 === 4)))
          .groupBy(col("user_id"))
          .agg(sum(col("n_events")).as("n_events"),
            sum(col("sum_cents")).as("sum_cents"),
            min(col("first_ns")).as("first_ns"),
            max(col("last_ns")).as("last_ns"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |    AS sum_cents,
             |  CAST(min(epoch_ns(ts)) AS BIGINT) AS first_ns,
             |  CAST(max(epoch_ns(ts)) AS BIGINT) AS last_ns
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // O13: WEIGHTED sampling without replacement (Efraimidis-Spirakis
    // A-Res) — the data-mixture primitive o5/o8's uniform samplers can't
    // express: sample k docs per source with probability proportional to
    // a weight (here n_chars — "sample long documents more"). Each row
    // computes key = ln(u) / w from a hash-derived uniform
    // u = (md5_32 + 0.5) / 2^32 and the top-k keys per stratum win —
    // fully parallel, one window per stratum, no driver state, and at
    // 100 TB the same two-phase top-k lowering as w2/w9 applies. Unlike
    // engine-seeded sample(), the hash-derived u is ENGINE-IDENTICAL, so
    // the whole sample is oracled exactly (c2's split idiom extended to
    // weighted selection). Decision path: the ranking compares ln()
    // outputs — see DecisionAudit (key gaps are ~1e-2, libm divergence
    // <= 1 ulp; the ranking cannot flip on any realistic data).
    Q("o13_weighted_sample",
      (s, d) => {
        val u = (hash32(concat(lit("wsample:"), col("doc_id").cast("string")))
          .cast("double") + 0.5) / 4294967296.0
        val key = log(u) / col("n_chars")
        val w = Window.partitionBy(col("source"))
          .orderBy(desc("k"), col("doc_id"))
        documents(s, d)
          .filter(col("n_chars") > 0)
          .select(col("source"), col("doc_id"), col("n_chars"), key.as("k"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 5)
          .select(col("source"), col("doc_id"), col("n_chars"), col("rn"))
          .orderBy(col("source"), col("rn"))
      },
      Some(s"""WITH s AS (
              |  SELECT source, doc_id, n_chars,
              |    ln((${sqlH32("'wsample:' || CAST(doc_id AS VARCHAR)")} + 0.5)
              |        / 4294967296.0) / n_chars AS k
              |  FROM documents WHERE n_chars > 0)
              |SELECT source, doc_id, n_chars, rn FROM (
              |  SELECT source, doc_id, n_chars,
              |    CAST(row_number() OVER (PARTITION BY source
              |      ORDER BY k DESC, doc_id) AS BIGINT) AS rn
              |  FROM s)
              |WHERE rn <= 5 ORDER BY source, rn""".stripMargin)),

    // O16: one-pass Poisson bootstrap — confidence intervals for a
    // per-group mean computed the only way 100 TB allows (Chamandy et
    // al., "Estimating Uncertainty for Massive Data Streams": resampling
    // with replacement is a per-row Poisson(1) weight per replicate, so
    // ALL 32 replicates ride one scan + one partial-combining aggregate;
    // no data pass is ever repeated). Every float hazard is engineered
    // out: the Poisson draw is an integer comparison of the 32-bit md5
    // hash against hard-coded CDF thresholds (floor(CDF * 2^32) — the
    // same literals in both engines, so draws are bit-identical and
    // regeneration-proof); values enter as exact cents; replicate means
    // and the point estimate are integer division; the CI is an ORDER
    // STATISTIC (2nd / 31st of the 32 sorted replicate means — a ~94%
    // interval), not an interpolated percentile. The window runs over 32
    // rows per group — replicate aggregates, never raw events.
    Q("o16_poisson_bootstrap",
      (s, d) => {
        val th = Seq(1580030168L, 3160060337L, 3950075421L,
          4213413783L, 4279248373L, 4292415291L)
        val base = events(s, d).select(col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        val rep = base
          .select(col("event_type"), col("cents"), col("event_id"),
            explode(sequence(lit(0), lit(31))).as("r"))
          .withColumn("h", hash32(concat(lit("bs:"),
            col("event_id").cast("string"), lit(":"),
            col("r").cast("string"))))
          .withColumn("w", th.zipWithIndex.foldRight(lit(6L): org.apache.spark.sql.Column) {
            case ((t, k), rest) => when(col("h") < t, k.toLong).otherwise(rest)
          })
        val reps = rep.groupBy(col("event_type"), col("r"))
          .agg(sum(col("w")).as("sw"), sum(col("w") * col("cents")).as("swc"))
          .filter(col("sw") > 0)
          .select(col("event_type"), col("r"), expr("swc div sw").as("mean_c"))
        val byType = Window.partitionBy(col("event_type"))
        val st = reps
          .withColumn("rn", row_number().over(byType.orderBy(col("mean_c"), col("r"))))
          .withColumn("nrep", count(lit(1)).over(byType))
          .filter(col("nrep") === 32)
        val lo = st.filter(col("rn") === 2)
          .select(col("event_type"), col("mean_c").as("ci_lo_cents"))
        val hi = st.filter(col("rn") === 31)
          .select(col("event_type").as("et2"), col("mean_c").as("ci_hi_cents"))
        base.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            expr("sum(cents) div count(1)").as("mean_cents"))
          .join(lo, Seq("event_type"))
          .join(hi, col("event_type") === col("et2"))
          .select(col("event_type"), col("n_events"), col("mean_cents"),
            col("ci_lo_cents"), col("ci_hi_cents"),
            (col("ci_hi_cents") - col("ci_lo_cents")).as("ci_width_cents"))
          .orderBy("event_type")
      },
      Some(s"""WITH base AS (
              |  SELECT event_type, event_id,
              |    CAST(round(value * 100) AS BIGINT) AS cents
              |  FROM events
              |), rep AS (
              |  SELECT event_type, cents,
              |    CAST(u.r AS INTEGER) AS r,
              |    ${sqlH32("'bs:' || CAST(event_id AS VARCHAR) || ':' || CAST(u.r AS VARCHAR)")} AS h
              |  FROM base, unnest(range(0, 32)) AS u(r)
              |), ww AS (
              |  SELECT event_type, r, cents,
              |    CASE WHEN h < 1580030168 THEN 0 WHEN h < 3160060337 THEN 1
              |         WHEN h < 3950075421 THEN 2 WHEN h < 4213413783 THEN 3
              |         WHEN h < 4279248373 THEN 4 WHEN h < 4292415291 THEN 5
              |         ELSE 6 END AS w
              |  FROM rep
              |), reps AS (
              |  SELECT event_type, r,
              |    CAST(sum(w * cents) // sum(w) AS BIGINT) AS mean_c
              |  FROM ww GROUP BY 1, 2 HAVING sum(w) > 0
              |), st AS (
              |  SELECT event_type, r, mean_c,
              |    row_number() OVER (PARTITION BY event_type
              |      ORDER BY mean_c, r) AS rn,
              |    count(*) OVER (PARTITION BY event_type) AS nrep
              |  FROM reps
              |), point AS (
              |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
              |    CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents
              |  FROM base GROUP BY 1
              |)
              |SELECT p.event_type, p.n_events, p.mean_cents,
              |  lo.mean_c AS ci_lo_cents, hi.mean_c AS ci_hi_cents,
              |  hi.mean_c - lo.mean_c AS ci_width_cents
              |FROM point p
              |JOIN (SELECT event_type, mean_c FROM st
              |      WHERE rn = 2 AND nrep = 32) lo USING (event_type)
              |JOIN (SELECT event_type, mean_c FROM st
              |      WHERE rn = 31 AND nrep = 32) hi USING (event_type)
              |ORDER BY p.event_type""".stripMargin)),

    // U5: atomic versioned snapshot publish (operators/SnapshotStore) —
    // the table-format kernel under u1/u2/u3: data written completely
    // under v<N>, then ONE pointer file swapped by atomic rename; a
    // reader never sees a half-written version and a crash before the
    // swap leaves the old version live (SnapshotStoreSpec stages that
    // crash). The query publishes two versions (the even-id half, then
    // the full corpus), reads BOTH back through the store, and emits
    // per-version count + an order-insensitive id digest — all derivable
    // from the source table, so the round-trip through the versioned
    // store is exactly oracled.
    Q("u5_snapshot_publish",
      (s, d) => {
        import graft.operators.SnapshotStore
        // u7's scratch discipline (ADVICE r12): deterministic root per
        // (session, sfDir) + wipe-before-publish. A UUID-per-invocation
        // root accumulated one store per gate/bench run inside a
        // long-lived JVM; the wipe keeps the fresh-versions-per-execution
        // requirement (re-runs must re-publish v1/v2, not append v3/v4 —
        // the version numbers are part of the deterministic output).
        val root = graft.Scratch.dir(s,
          s"u5_store_${graft.Scratch.key(d)}")
        val rootPath = new org.apache.hadoop.fs.Path(root)
        val rfs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (rfs.exists(rootPath)) rfs.delete(rootPath, true)
        val docs = documents(s, d).select(col("doc_id"), col("source"))
        SnapshotStore.publish(docs.filter(col("doc_id") % 2 === 0), root)
        SnapshotStore.publish(docs, root)
        val vCur = SnapshotStore.currentVersion(s, root).get
        Seq(vCur - 1, vCur).map { v =>
          SnapshotStore.readVersion(s, root, v)
            .agg(count(lit(1)).as("n_rows"),
              md5(concat_ws(",",
                transform(sort_array(collect_list(col("doc_id"))),
                  _.cast("string")))).as("id_digest"))
            .select(lit(v).cast("long").as("version"), col("n_rows"),
              col("id_digest"))
        }.reduce(_.unionByName(_)).orderBy("version")
      },
      Some("""SELECT 1::BIGINT AS version, CAST(count(*) AS BIGINT) AS n_rows,
             |  md5(string_agg(doc_id, ',' ORDER BY doc_id)) AS id_digest
             |FROM documents WHERE doc_id % 2 = 0
             |UNION ALL
             |SELECT 2::BIGINT, CAST(count(*) AS BIGINT),
             |  md5(string_agg(doc_id, ',' ORDER BY doc_id))
             |FROM documents
             |ORDER BY version""".stripMargin)),

    // U6: write-audit-publish (WAP) gate — the deployment pattern u5's
    // atomic publish exists FOR: a staged batch runs its audits (row
    // count, null check on a required column, primary-key uniqueness)
    // and only a fully-green batch reaches SnapshotStore.publish; a red
    // batch leaves the live version untouched. The query stages one
    // deliberately-bad batch (every doc_id % 7 == 0 loses n_chars) and
    // one good batch (the even-id half) against a fresh v1 store and
    // emits the per-attempt audit ledger with the live version after
    // each attempt — all derivable from the source table, so the real
    // store mechanics are exactly oracled. The publish decision is a
    // DRIVER decision by nature (publish itself is a driver action);
    // the three audit scalars ride the scalar-only-collect contract
    // (RankingEval's rule) — the audits themselves are one
    // partial-combining aggregate each, never a row collect.
    Q("u6_wap_audit",
      (s, d) => {
        import graft.operators.SnapshotStore
        // deterministic root + wipe, u7's pattern (see u5 above)
        val root = graft.Scratch.dir(s,
          s"u6_store_${graft.Scratch.key(d)}")
        val rootPath = new org.apache.hadoop.fs.Path(root)
        val rfs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (rfs.exists(rootPath)) rfs.delete(rootPath, true)
        val docs = documents(s, d).select(col("doc_id"), col("source"),
          col("n_chars"))
        SnapshotStore.publish(docs, root) // v1 = the live table
        val attempts = Seq(
          docs.withColumn("n_chars",
            when(col("doc_id") % 7 === 0, lit(null).cast("long"))
              .otherwise(col("n_chars"))),
          docs.filter(col("doc_id") % 2 === 0))
        val report = attempts.zipWithIndex.map { case (batch, i) =>
          val a = batch.agg(count(lit(1)).as("n_rows"),
            sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("n_nulls"),
            (count(lit(1)) - count_distinct(col("doc_id"))).as("n_pk_dups"))
            .head()
          val (nRows, nNulls, nDups) =
            (a.getLong(0), a.getLong(1), a.getLong(2))
          val passed = nRows > 0 && nNulls == 0 && nDups == 0
          if (passed) SnapshotStore.publish(batch, root)
          val vAfter = SnapshotStore.currentVersion(s, root).get
          (i + 1L, nRows, nNulls, nDups, if (passed) 1 else 0,
            vAfter.toLong)
        }
        import s.implicits._
        report.toDF("attempt", "n_rows", "n_nulls", "n_pk_dups",
          "passed", "version_after").orderBy("attempt")
      },
      Some("""SELECT 1::BIGINT AS attempt,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_nulls,
             |  0::BIGINT AS n_pk_dups, 0 AS passed, 1::BIGINT AS version_after
             |FROM documents
             |UNION ALL
             |SELECT 2::BIGINT, CAST(count(*) AS BIGINT), 0::BIGINT,
             |  0::BIGINT, 1, 2::BIGINT
             |FROM documents WHERE doc_id % 2 = 0
             |ORDER BY attempt""".stripMargin)),

    // C10: temporal (leakage-safe) train/validation split — the split a
    // forecasting or recommendation pipeline MUST use where c2's hash
    // split would leak the future into training: cut at a time point,
    // train strictly before, validate at-or-after. The cutoff is derived
    // in exact integer nanos ((min+max) div 2 over the corpus — a
    // broadcast scalar, regeneration-proof), and every row carries the
    // no-leakage evidence: per user, max train ts < min val ts BY
    // CONSTRUCTION, emitted as a leak flag the oracle reproduces.
    // Map-side assignment after one broadcast; the rollup is one
    // partial-combining aggregate.
    Q("c10_temporal_split",
      (s, d) => {
        val ev = events(s, d)
        val cut = ev.agg(expr("(min(ts) + max(ts)) div 2").as("cut"))
        ev.crossJoin(broadcast(cut))
          .select(col("user_id"), col("ts"),
            (col("ts") < col("cut")).cast("int").as("is_train"))
          .groupBy(col("user_id"))
          .agg(sum(col("is_train")).as("n_train"),
            sum(lit(1) - col("is_train")).as("n_val"),
            max(when(col("is_train") === 1, col("ts"))).as("max_train_ts"),
            min(when(col("is_train") === 0, col("ts"))).as("min_val_ts"))
          .withColumn("leak",
            (coalesce(col("max_train_ts"), lit(Long.MinValue))
              >= coalesce(col("min_val_ts"), lit(Long.MaxValue))).cast("int"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_ns(ts) AS tns FROM events
             |), c AS (
             |  SELECT (min(tns) + max(tns)) // 2 AS cut FROM ev
             |), m AS (
             |  SELECT user_id, tns,
             |    CAST(tns < cut AS INT) AS is_train
             |  FROM ev CROSS JOIN c
             |)
             |SELECT user_id,
             |  CAST(sum(is_train) AS BIGINT) AS n_train,
             |  CAST(sum(1 - is_train) AS BIGINT) AS n_val,
             |  max(CASE WHEN is_train = 1 THEN tns END) AS max_train_ts,
             |  min(CASE WHEN is_train = 0 THEN tns END) AS min_val_ts,
             |  CAST(coalesce(max(CASE WHEN is_train = 1 THEN tns END),
             |      -9223372036854775808)
             |    >= coalesce(min(CASE WHEN is_train = 0 THEN tns END),
             |      9223372036854775807) AS INT) AS leak
             |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // E10: max-inner-product search (MIPS) — the recommendation-SERVING
    // primitive (user·item factor score) the cosine family doesn't
    // express: the maximizer of x·q is NOT the cosine maximizer unless
    // all norms are equal. Exact top-k here is e1's shape (broadcast
    // query frame, one stream over the corpus, per-query rank window,
    // never a global sort); the SCALE path is the Bachrach et al.
    // (RecSys'14) reduction — append sqrt(M^2 - |x|^2) to every corpus
    // vector and 0 to the query, making every augmented norm equal M so
    // MIPS becomes cosine and e2/e4's LSH/IVF machinery applies
    // unchanged. The reduction's order-preservation law is pinned in
    // SimilarityScaleSpec (augmented-cosine ranking == ip ranking,
    // augmented norms == M); the oracle pins the exact scores through
    // the e1 fold discipline (identical element-order dot fold in both
    // engines, round at 5dp after).
    Q("e10_mips",
      (s, d) => {
        val emb = ivfEmb(s, d)
        val q = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        emb.join(broadcast(q), col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("cand_id"),
            round(dot(col("v"), col("qv")), 5).as("ip"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("q_id")).orderBy(desc("ip"), col("cand_id")))
            .cast("long"))
          .filter(col("rn") <= 5)
          .orderBy("q_id", "rn")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
             |), q AS (
             |  SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3
             |), p AS (
             |  SELECT q_id, e.vec_id AS cand_id,
             |    round(list_sum([qv[i] * v[i] for i in range(1, len(v) + 1)]), 5)
             |      AS ip
             |  FROM e CROSS JOIN q WHERE e.vec_id != q_id
             |), r AS (
             |  SELECT q_id, cand_id, ip,
             |    CAST(row_number() OVER (
             |      PARTITION BY q_id ORDER BY ip DESC, cand_id) AS BIGINT) AS rn
             |  FROM p
             |)
             |SELECT q_id, cand_id, ip, rn FROM r WHERE rn <= 5
             |ORDER BY q_id, rn""".stripMargin)),

    // E11: MMR diverse top-k (Carbonell-Goldstein maximal marginal
    // relevance) — eval-set/demo-set curation wants the top results that
    // are relevant AND mutually diverse, not three near-copies of the
    // same document (which is exactly what e1's plain top-k returns on a
    // near-dup corpus). Greedy: pick argmax cos(q,x); then twice more
    // pick argmax [cos(q,x) - 0.5 * max cos(x, already-picked)]. Shape:
    // the candidate pool is ExactCosine.topK(20) — the bounded per-query
    // frame every rerank needs — and each of the 3 unrolled steps is a
    // per-query window argmax over <= 20 candidate rows joined with the
    // <= 2 selected vectors; nothing rescans the corpus after the one
    // topK pass. Decisions: cosines are 5-dp-rounded sequential folds
    // (e1's BitPinned class), penalized scores are identical-double
    // arithmetic on those, and every argmax carries the (score desc,
    // cand_id) total tie-break — the oracle replays the identical three
    // steps as MATERIALIZED CTEs.
    Q("e11_mmr_diverse",
      (s, d) => {
        val emb = embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val q = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        // the candidate frame (pool + vectors + norms) is MATERIALIZED:
        // every unrolled MMR step re-derived the topK pool AND the
        // vector lookups from the corpus, planning TWENTY-ONE
        // embeddings scans (round-14 scan census); the frame is
        // bounded at |Q|·k rows, so coalesce(1) is scale-safe, and
        // the selected-vector joins (s1v/s2v) read IT — the selected
        // ids are candidates by construction — never the corpus.
        // Two embeddings scans remain: the topK pass + the norm join.
        val en = emb.withColumn("nrm", l2Norm(col("v")))
        val cv = graft.Scratch.cut(s, s"e11_cand_${graft.Scratch.key(d)}")(
          graft.similarity.ExactCosine.topK(emb, q, 20)
            .select(col("q_id"), col("cand_id"), col("cos"))
            .join(en.select(col("vec_id").as("cand_id"),
              col("v").as("cv"), col("nrm").as("cn")), Seq("cand_id"))
            .coalesce(1))
        val c = cv.select(col("q_id"), col("cand_id"), col("cos"))
        def pairCos(av: Column, an: Column, bv: Column, bn: Column) =
          round(dot(av, bv) / (an * bn), 5)
        def argmax(df: DataFrame, scoreCol: String) = df
          .withColumn("_rn", row_number().over(Window.partitionBy(col("q_id"))
            .orderBy(desc(scoreCol), col("cand_id"))))
          .filter(col("_rn") === 1).drop("_rn")
        val s1 = argmax(c, "cos")
          .select(col("q_id"), col("cand_id").as("s1_id"), col("cos").as("s1_score"))
        val s1v = s1.join(cv.select(col("q_id"), col("cand_id").as("s1_id"),
            col("cv").as("b1v"), col("cn").as("b1n")), Seq("q_id", "s1_id"))
        val p2 = cv.join(s1v, Seq("q_id"))
          .filter(col("cand_id") =!= col("s1_id"))
          .withColumn("score", col("cos")
            - lit(0.5) * pairCos(col("cv"), col("cn"), col("b1v"), col("b1n")))
        val s2 = argmax(p2, "score")
          .select(col("q_id"), col("cand_id").as("s2_id"), col("score").as("s2_score"))
        val s2v = s2.join(cv.select(col("q_id"), col("cand_id").as("s2_id"),
            col("cv").as("b2v"), col("cn").as("b2n")), Seq("q_id", "s2_id"))
        val p3 = cv.join(s1v, Seq("q_id")).join(s2v, Seq("q_id"))
          .filter(col("cand_id") =!= col("s1_id") && col("cand_id") =!= col("s2_id"))
          .withColumn("score", col("cos") - lit(0.5) * greatest(
            pairCos(col("cv"), col("cn"), col("b1v"), col("b1n")),
            pairCos(col("cv"), col("cn"), col("b2v"), col("b2n"))))
        val s3 = argmax(p3, "score")
          .select(col("q_id"), col("cand_id").as("s3_id"), col("score").as("s3_score"))
        // EMIT at 6 dp — the score's true decimal grain: cos is a 5-dp
        // decimal and 0.5*penalty is exactly a 6-dp decimal, so their
        // difference sits ON the 1e-6 grid (margin 5e-7 vs ~1e-16
        // representation noise). Emitting round(score, 5) was the a21
        // half-way trap verbatim: scores like 0.343635 sit exactly on
        // the 5-dp boundary and the engines' round() impls split them
        // differently (caught by the sf0.001 drill leg, one row).
        s1.select(col("q_id"), lit(1L).as("step"), col("s1_id").as("vec_id"),
            round(col("s1_score"), 6).as("score"))
          .unionByName(s2.select(col("q_id"), lit(2L).as("step"),
            col("s2_id").as("vec_id"), round(col("s2_score"), 6).as("score")))
          .unionByName(s3.select(col("q_id"), lit(3L).as("step"),
            col("s3_id").as("vec_id"), round(col("s3_score"), 6).as("score")))
          .orderBy("q_id", "step")
      },
      Some("""WITH e AS MATERIALIZED (
             |  SELECT vec_id, embedding::DOUBLE[] AS v,
             |    sqrt(list_sum([x*x for x in embedding::DOUBLE[]])) AS nrm
             |  FROM embeddings
             |), q AS MATERIALIZED (
             |  SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM e WHERE vec_id < 3
             |), c AS MATERIALIZED (
             |  SELECT * FROM (
             |    SELECT q_id, e.vec_id AS cand_id,
             |      round(list_sum([qv[i] * v[i] for i in range(1, len(v) + 1)])
             |        / (nrm * qnrm), 5) AS cos,
             |      row_number() OVER (PARTITION BY q_id ORDER BY
             |        round(list_sum([qv[i] * v[i] for i in range(1, len(v) + 1)])
             |          / (nrm * qnrm), 5) DESC, e.vec_id) AS rn
             |    FROM e CROSS JOIN q WHERE e.vec_id != q_id)
             |  WHERE rn <= 20
             |), s1 AS MATERIALIZED (
             |  SELECT q_id, cand_id AS s1_id, cos AS s1_score FROM c WHERE rn = 1
             |), p2 AS MATERIALIZED (
             |  SELECT c.q_id, c.cand_id, c.cos,
             |    c.cos - 0.5 * round(list_sum([a.v[i] * b.v[i]
             |      for i in range(1, len(a.v) + 1)]) / (a.nrm * b.nrm), 5) AS score
             |  FROM c JOIN s1 USING (q_id)
             |  JOIN e a ON a.vec_id = c.cand_id JOIN e b ON b.vec_id = s1.s1_id
             |  WHERE c.cand_id != s1.s1_id
             |), s2 AS MATERIALIZED (
             |  SELECT q_id, cand_id AS s2_id, score AS s2_score FROM (
             |    SELECT *, row_number() OVER (PARTITION BY q_id
             |      ORDER BY score DESC, cand_id) AS rn2 FROM p2) WHERE rn2 = 1
             |), p3 AS MATERIALIZED (
             |  SELECT c.q_id, c.cand_id, c.cos,
             |    c.cos - 0.5 * greatest(
             |      round(list_sum([a.v[i] * b1.v[i]
             |        for i in range(1, len(a.v) + 1)]) / (a.nrm * b1.nrm), 5),
             |      round(list_sum([a.v[i] * b2.v[i]
             |        for i in range(1, len(a.v) + 1)]) / (a.nrm * b2.nrm), 5)
             |    ) AS score
             |  FROM c JOIN s1 USING (q_id) JOIN s2 USING (q_id)
             |  JOIN e a ON a.vec_id = c.cand_id
             |  JOIN e b1 ON b1.vec_id = s1.s1_id JOIN e b2 ON b2.vec_id = s2.s2_id
             |  WHERE c.cand_id != s1.s1_id AND c.cand_id != s2.s2_id
             |), s3 AS (
             |  SELECT q_id, cand_id AS s3_id, score AS s3_score FROM (
             |    SELECT *, row_number() OVER (PARTITION BY q_id
             |      ORDER BY score DESC, cand_id) AS rn3 FROM p3) WHERE rn3 = 1
             |)
             |SELECT q_id, 1::BIGINT AS step, s1_id AS vec_id,
             |  round(s1_score, 6) AS score FROM s1
             |UNION ALL SELECT q_id, 2, s2_id, round(s2_score, 6) FROM s2
             |UNION ALL SELECT q_id, 3, s3_id, round(s3_score, 6) FROM s3
             |ORDER BY q_id, step""".stripMargin)),

    // O15: block sampling + Horvitz-Thompson estimation — the approximate-
    // query-processing primitive row sampling can't give you at 100 TB:
    // sampling WHOLE blocks (here: 100-order key ranges; in production,
    // files or row groups) means the scan touches ~10% of the DATA, not
    // 100% of it with 90% of rows discarded — block membership is decided
    // per block key, so pruning happens before any row is read. Inclusion
    // probability is exactly 1/10 by construction (hash-bucket on the
    // block id, o14's engine-portable rule), so the HT estimator is
    // sampled_sum * 10 in exact cents. The exact full-scan totals ride
    // along as evidence columns (the correctness surface pays for the
    // full scan so the estimator's error is visible in-row; production
    // omits them — that is the point of the operator).
    Q("o15_block_sample",
      (s, d) => {
        val base = lineitem(s, d)
          .select(col("l_returnflag"), expr("l_orderkey div 100").as("blk"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"))
        val sampled = base
          .filter(hash32(concat(lit("o15:"), col("blk").cast("string"))) % 10 === 0)
        val est = sampled.groupBy(col("l_returnflag"))
          .agg(count_distinct(col("blk")).as("n_blocks"),
            count(lit(1)).as("n_rows"),
            sum(col("cents")).as("sampled_cents"))
          .select(col("l_returnflag"), col("n_blocks"), col("n_rows"),
            col("sampled_cents"),
            (col("sampled_cents") * 10).as("est_cents"))
        val exact = base.groupBy(col("l_returnflag"))
          .agg(sum(col("cents")).as("exact_cents"))
        est.join(exact, Seq("l_returnflag"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH b AS (
              |  SELECT l_returnflag, l_orderkey // 100 AS blk,
              |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
              |  FROM lineitem
              |), s AS (
              |  SELECT l_returnflag,
              |    CAST(count(DISTINCT blk) AS BIGINT) AS n_blocks,
              |    CAST(count(*) AS BIGINT) AS n_rows,
              |    CAST(sum(cents) AS BIGINT) AS sampled_cents,
              |    CAST(sum(cents) * 10 AS BIGINT) AS est_cents
              |  FROM b
              |  WHERE ${sqlH32("'o15:' || CAST(blk AS VARCHAR)")} % 10 = 0
              |  GROUP BY l_returnflag
              |), x AS (
              |  SELECT l_returnflag, CAST(sum(cents) AS BIGINT) AS exact_cents
              |  FROM b GROUP BY l_returnflag
              |)
              |SELECT s.l_returnflag, n_blocks, n_rows, sampled_cents,
              |  est_cents, exact_cents
              |FROM s JOIN x USING (l_returnflag)
              |ORDER BY l_returnflag""".stripMargin)),

    // O14: deterministic hash-bucket sampling — the sampling a 100 TB
    // pipeline actually ships: membership is a pure function of the row
    // KEY (md5-derived bucket), so the sample is (a) exactly reproducible
    // on any engine — this is the EXACTLY-ORACLED counterpart of o5's
    // seeded Bernoulli sample, whose rand(seed) stream no other engine
    // can replay — and (b) REHASH-STABLE: re-running after new docs land
    // never flips membership of existing ids, so downstream eval sets
    // stay frozen across ingests (seeded sample() re-deals the whole
    // corpus on every append). The salt prefix decorrelates this sample
    // from every other hash consumer (o13's weighted keys, c2's split).
    // Map-side filter, no shuffle; the scan prunes to the projected
    // columns. ~10% target rate; the emitted bucket makes the decision
    // input part of the row (DecisionAudit: integer equality, no float
    // path).
    Q("o14_hash_bucket_sample",
      (s, d) => documents(s, d)
        .withColumn("bucket",
          hash32(concat(lit("o14:"), col("doc_id").cast("string"))) % 10)
        .filter(col("bucket") === 0)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang, source, n_chars FROM documents
              |WHERE ${sqlH32("'o14:' || CAST(doc_id AS VARCHAR)")} % 10 = 0
              |ORDER BY doc_id""".stripMargin)),

    // O17: systematic (every-k-th) sampling — the survey-design member of
    // the sampling family (o5 Bernoulli / o13 weighted / o14 hash-bucket /
    // o15 block / o8 stratified): sort by a deterministic hash order and
    // take every 20th element from a fixed offset, which guarantees an
    // EXACTLY even spread through the frame (Bernoulli clusters, bucket
    // sampling strides by key — systematic strides by position). The
    // global position comes from operators/GlobalRank (range repartition +
    // partition offsets), never a single-partition window — at corpus
    // scale the rank is the only global computation and it is two-phase.
    Q("o17_systematic_sample",
      (s, d) => {
        import graft.operators.GlobalRank
        val h = hash32(concat(lit("o17:"), col("doc_id").cast("string")))
        val ranked = GlobalRank.withRowNumber(
          documents(s, d).select(col("doc_id"), col("source"),
            col("n_chars"), h.as("h")),
          Seq(col("h").asc, col("doc_id").asc), "pos")
        ranked.filter(pmod(col("pos"), lit(20L)) === 7)
          .select(col("doc_id"), col("source"), col("n_chars"),
            col("pos").cast("long").as("pos"))
          .orderBy("pos")
      },
      Some(s"""WITH r AS (
              |  SELECT doc_id, source, n_chars,
              |    ${sqlH32("'o17:' || CAST(doc_id AS VARCHAR)")} AS h
              |  FROM documents
              |), p AS (
              |  SELECT doc_id, source, n_chars,
              |    row_number() OVER (ORDER BY h, doc_id) AS pos
              |  FROM r
              |)
              |SELECT doc_id, source, n_chars, CAST(pos AS BIGINT) AS pos
              |FROM p WHERE pos % 20 = 7 ORDER BY pos""".stripMargin)),

    // C13: temperature-scaled source mixing (alpha-sampling, the
    // multilingual-LM mixture rule: sample share proportional to
    // n_s^alpha so low-resource sources are up-weighted without letting
    // any single source dominate — Conneau & Lample's alpha=0.5 here).
    // EVERY decision is cross-engine exact: sqrt runs on an exact
    // integer count (one correctly-rounded op -> bit-identical double in
    // both engines), then *1000/floor on that identical double; the
    // 100-doc budget allocates by integer division of the weights; each
    // source fills its allocation in deterministic md5-hash order via a
    // PARTITIONED window. c4 is the per-document Bernoulli mixture; this
    // is the budgeted QUOTA mixture a curriculum actually ships.
    Q("c13_temperature_mix",
      (s, d) => {
        val perSource = documents(s, d).groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("weight", floor(sqrt(col("n_docs")) * 1000).cast("long"))
        val wsum = perSource.agg(sum(col("weight")).as("wsum"))
        val alloc = perSource.crossJoin(broadcast(wsum))
          .withColumn("alloc",
            least(expr("weight * 100 div wsum"), col("n_docs")))
          .select(col("source").as("src"), col("n_docs"), col("weight"),
            col("alloc"))
        val ranked = documents(s, d).select(col("source"), col("doc_id"),
            hash32(concat(lit("tmix:"), col("doc_id").cast("string"))).as("h"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id")))
            .cast("long"))
        ranked.join(alloc, col("source") === col("src"))
          .filter(col("rn") <= col("alloc"))
          .select(col("source"), col("doc_id"), col("rn"),
            col("n_docs"), col("weight"), col("alloc"))
          .orderBy("source", "rn")
      },
      Some(s"""WITH ps AS (
              |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
              |), w AS (
              |  SELECT source, n_docs,
              |    CAST(floor(sqrt(n_docs) * 1000) AS BIGINT) AS weight
              |  FROM ps
              |), ws AS (
              |  SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM w
              |), al AS (
              |  SELECT source, n_docs, weight,
              |    least(weight * 100 // wsum, n_docs) AS alloc
              |  FROM w CROSS JOIN ws
              |), r0 AS (
              |  SELECT source, doc_id,
              |    ${sqlH32("'tmix:' || CAST(doc_id AS VARCHAR)")} AS h
              |  FROM documents
              |), r AS (
              |  SELECT source, doc_id,
              |    CAST(row_number() OVER (PARTITION BY source
              |      ORDER BY h, doc_id) AS BIGINT) AS rn
              |  FROM r0
              |)
              |SELECT r.source, r.doc_id, r.rn, al.n_docs, al.weight, al.alloc
              |FROM r JOIN al USING (source) WHERE r.rn <= al.alloc
              |ORDER BY r.source, r.rn""".stripMargin)),

    // T19: compression-ratio quality signal (expressions/DeflateLen) — the
    // language-agnostic repetition gate RedPajama-v2 and Dolma both ship
    // beside the Gopher token-share signals (t12): templated/boilerplate
    // text deflates far below ~0.4x, near-random prose sits ~0.6-0.9x.
    // One codegen'd native-expression call per row, map-side, no shuffle —
    // a full-corpus quality sweep at 100 TB is a single scan. Rows-only by
    // design: the length is a pure function of input bytes for a given
    // zlib build (one cluster = one JDK = identical everywhere), but no
    // SQL engine reproduces another zlib's exact output length — so the
    // row carries its own evidence instead: `bound_ok` pins the hard
    // DEFLATE envelope (0 < deflate_len <= raw_len + 5*ceil(raw_len/16384)
    // + 11, the stored-block worst case) and DeflateLenSpec pins the
    // signal's ordering laws (repetitive < natural < incompressible),
    // determinism, and SQL==column parity. The keep flag is
    // integer-decided (ratio_x1000 threshold) like every curation gate.
    // A19: randomized-response privatized counts (Warner 1965; the RAPPOR
    // mechanism's core) — release per-source rates of a sensitive bit
    // (here lang='en') without any row revealing its truth: with prob 1/2
    // a row reports its true bit, else a fair coin. The debiasing
    // estimator 2*mean - 1/2 recovers the population rate; per-row
    // plausible deniability holds regardless. Chosen over Laplace noise
    // because the whole decision path is INTEGER (hash-parity coins,
    // integer-scaled estimator) — engine-identical and therefore exactly
    // oracled, where ln()-derived noise would put a transcendental under
    // a rounding boundary (the a16 fragility class). The estimator's
    // division emits the +0.5-shifted value (20000*yes div n, always
    // non-negative) and subtracts 5000 AFTER — raw 2*yes - n/2 can go
    // negative, where Spark's truncating div and DuckDB's flooring //
    // disagree. Map-side coins, one partial-combining aggregate; at
    // 100 TB this is a scan.
    Q("a19_randomized_response",
      (s, d) => documents(s, d)
        .select(col("source"),
          (col("lang") === "en").cast("long").as("truth"),
          (hash32(concat(lit("rr1:"), col("doc_id").cast("string"))) % 2)
            .as("keep_truth"),
          (hash32(concat(lit("rr2:"), col("doc_id").cast("string"))) % 2)
            .as("coin"))
        .select(col("source"), col("truth"),
          when(col("keep_truth") === 1, col("truth")).otherwise(col("coin"))
            .as("reported"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("reported")).as("n_yes"),
          sum(col("truth")).as("n_true"))
        .select(col("source"), col("n"), col("n_yes"), col("n_true"),
          (expr("20000 * n_yes div n") - 5000L).as("est_x1e4"),
          expr("10000 * n_true div n").as("true_x1e4"))
        .orderBy("source"),
      Some(s"""WITH r AS (
              |  SELECT source,
              |    CAST(lang = 'en' AS BIGINT) AS truth,
              |    ${sqlH32("'rr1:' || CAST(doc_id AS VARCHAR)")} % 2 AS keep_truth,
              |    ${sqlH32("'rr2:' || CAST(doc_id AS VARCHAR)")} % 2 AS coin
              |  FROM documents
              |), m AS (
              |  SELECT source, truth,
              |    CASE WHEN keep_truth = 1 THEN truth ELSE coin END AS reported
              |  FROM r
              |), g AS (
              |  SELECT source, CAST(count(*) AS BIGINT) AS n,
              |    CAST(sum(reported) AS BIGINT) AS n_yes,
              |    CAST(sum(truth) AS BIGINT) AS n_true
              |  FROM m GROUP BY source
              |)
              |SELECT source, n, n_yes, n_true,
              |  20000 * n_yes // n - 5000 AS est_x1e4,
              |  10000 * n_true // n AS true_x1e4
              |FROM g ORDER BY source""".stripMargin)),

    Q("t19_compression_ratio",
      (s, d) => documents(s, d)
        .select(col("doc_id"), octet_length(col("text")).cast("long").as("raw_len"),
          deflateLen(col("text")).as("deflate_len"))
        .filter(col("raw_len") > 0)
        .withColumn("ratio_x1000", expr("deflate_len * 1000 div raw_len"))
        .withColumn("bound_ok",
          (col("deflate_len") > 0 &&
            col("deflate_len") <=
              col("raw_len") + lit(5) * ceil(col("raw_len") / 16384.0).cast("long")
                + lit(11)).cast("int"))
        .withColumn("keep", (col("ratio_x1000") >= 350).cast("int"))
        .orderBy("doc_id"),
      None)
  )

  /** Round-11 additions, registered separately so the file's historical
    * sections stay stable for the per-round COVERAGE diff.
    */
  val round11: Seq[Q] = Seq(

    // C14: n-gram EVAL-SET contamination report — the published-benchmark
    // decontamination audit (GPT-3 appx C / PaLM style): c3/c8 drop
    // training docs whose EXACT key appears in an eval set, but the
    // contamination that actually poisons reported metrics is PARTIAL —
    // an eval question quoted inside a crawled page. The standard check
    // is k-gram overlap: for every eval document, what fraction of its
    // 8-grams appears anywhere in the training corpus? Scale shape: the
    // eval side is small BY DEFINITION (benchmarks are thousands of
    // docs), so its distinct gram set BROADCASTS; the corpus-side probe
    // is then a map-side broadcast semi-join (no corpus shuffle — the
    // same "stream the big side past a small membership structure" shape
    // as c8's Bloom, here exact because the set fits), and only MATCHED
    // occurrences reach the distinct. The per-eval-doc rollup joins two
    // tiny frames. Contamination threshold: >= 20 % of a doc's 8-grams
    // seen in-corpus flags it (Brown et al. used 13-gram overlap; k = 8
    // keeps the synthetic docs, ~40 tokens, inside signal range).
    Q("c14_ngram_contamination",
      (s, d) => {
        val k = 8
        val grams = tokenized(s, d)
          .select(col("doc_id"), explode(shinglesNative(col("text"), k)).as("g"))
        val evalG = grams.filter(col("doc_id") % 100 < 2).distinct()
        val corpusG = grams.filter(col("doc_id") % 100 >= 2)
        val evalSet = evalG.select(col("g")).distinct()
        val hitSet = corpusG.join(broadcast(evalSet), Seq("g"), "left_semi")
          .select(col("g")).distinct()
        val nTot = evalG.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"))
        val nHit = evalG.join(broadcast(hitSet), Seq("g"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
        nTot.join(nHit, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"))
          .select(col("doc_id"), col("n_grams"), col("n_hit"),
            expr("n_hit * 10000 div n_grams").as("overlap_x1e4"),
            (expr("n_hit * 10000 div n_grams") >= 2000L).cast("int")
              .as("contaminated"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlTok, sp AS (
              |  SELECT doc_id,
              |    unnest([array_to_string(w[i:i+7], ' ')
              |            for i in range(1, len(w) - 6)]) AS g
              |  FROM tok
              |), ev AS (
              |  SELECT DISTINCT doc_id, g FROM sp WHERE doc_id % 100 < 2
              |), hits AS (
              |  SELECT DISTINCT sp.g FROM sp
              |  JOIN (SELECT DISTINCT g FROM ev) e ON sp.g = e.g
              |  WHERE sp.doc_id % 100 >= 2
              |), tot AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
              |  FROM ev GROUP BY doc_id
              |), hit AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
              |  FROM ev JOIN hits USING (g) GROUP BY doc_id
              |)
              |SELECT t.doc_id, t.n_grams, coalesce(h.n_hit, 0) AS n_hit,
              |  coalesce(h.n_hit, 0) * 10000 // t.n_grams AS overlap_x1e4,
              |  CAST(coalesce(h.n_hit, 0) * 10000 // t.n_grams >= 2000 AS INT)
              |    AS contaminated
              |FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
              |ORDER BY t.doc_id""".stripMargin)),

    // T24: Heaps'-law vocabulary growth curve — the corpus diagnostic
    // behind "is more data still buying new vocabulary?": cumulative
    // distinct vocabulary vs cumulative token count at 20 evenly-spaced
    // document checkpoints in doc_id order. "First document containing
    // each term" is one term-keyed aggregate (min(doc_id)); BOTH global
    // prefixes (tokens and new-terms) then ride ONE pass of GlobalRank's
    // two-phase range-partition + broadcast-offset machinery
    // (withRankAndRunningTotals — never an unpartitioned window; a
    // billion-doc corpus stays fully parallel, t9/t15's scale rule). The
    // checkpoint filter is pure arithmetic on the global rank, so the
    // output is ~20 rows regardless of corpus size. All-integer;
    // exactly oracled.
    Q("t24_heaps_law",
      (s, d) => {
        import graft.operators.GlobalRank
        val toks = tokenized(s, d)
        val perDoc = toks.select(col("doc_id"),
          size(col("w")).cast("long").as("n_tokens"))
        val newTerms = toks
          .select(col("doc_id"), explode(col("w")).as("term"))
          .groupBy(col("term")).agg(min(col("doc_id")).as("first_doc"))
          .groupBy(col("first_doc")).agg(count(lit(1)).as("n_new"))
        // the per-doc frame is MATERIALIZED: GlobalRank references it
        // twice and the checkpoint-stride count a third time — each
        // recomputation re-tokenized the corpus TWICE (perDoc +
        // newTerms), so the unmaterialized form scanned documents five
        // times (round-14 scan census); materialized, the two tokenize
        // passes run once
        val docs = graft.Scratch.cut(s, s"t24_docs_${graft.Scratch.key(d)}")(
          perDoc
            .join(newTerms, col("doc_id") === col("first_doc"), "left")
            .select(col("doc_id"), col("n_tokens"),
              coalesce(col("n_new"), lit(0L)).as("n_new")))
        val ranked = GlobalRank.withRankAndRunningTotals(docs,
          Seq(col("doc_id").asc), Seq("n_tokens", "n_new"),
          "doc_rank", Seq("cum_tokens", "cum_vocab"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        ranked.crossJoin(broadcast(nDocs))
          .filter(expr("doc_rank % greatest(1, n_docs div 20) = 0")
            || col("doc_rank") === col("n_docs"))
          .select(col("doc_rank"), col("doc_id"), col("cum_tokens"),
            col("cum_vocab"),
            expr("cum_vocab * 10000 div cum_tokens").as("vocab_per_token_x1e4"))
          .orderBy("doc_rank")
      },
      Some(s"""WITH $sqlTok, perdoc AS (
              |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM tok
              |), fd AS (
              |  SELECT term, min(doc_id) AS first_doc
              |  FROM (SELECT doc_id, unnest(w) AS term FROM tok) GROUP BY term
              |), nn AS (
              |  SELECT first_doc, CAST(count(*) AS BIGINT) AS n_new
              |  FROM fd GROUP BY first_doc
              |), docs AS (
              |  SELECT p.doc_id, p.n_tokens, coalesce(nn.n_new, 0) AS n_new
              |  FROM perdoc p LEFT JOIN nn ON p.doc_id = nn.first_doc
              |), r AS (
              |  SELECT doc_id,
              |    CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS doc_rank,
              |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
              |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
              |    CAST(sum(n_new) OVER (ORDER BY doc_id
              |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
              |  FROM docs
              |), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM docs)
              |SELECT doc_rank, doc_id, cum_tokens, cum_vocab,
              |  cum_vocab * 10000 // cum_tokens AS vocab_per_token_x1e4
              |FROM r CROSS JOIN nd
              |WHERE doc_rank % greatest(1, n_docs // 20) = 0 OR doc_rank = n_docs
              |ORDER BY doc_rank""".stripMargin)),

    // D14: MinHash estimator CALIBRATION — the "can I trust the sketch"
    // audit beside d2/d3: for each adjacent-doc pair (d5's deterministic
    // pair set), the 16-perm signature-agreement estimate of Jaccard
    // against the exact 3-shingle Jaccard, as integer-scaled values and
    // absolute error. This is the measurement that sizes the signature
    // (16 perms => stderr ~ sqrt(J(1-J)/16) ~ 0.12 — the in-row errors
    // show exactly that spread) before a 100 TB run commits to a band
    // layout. Same materialized-base shape as d5 (two different join
    // keys defeat exchange reuse, so the shingle+sig table is computed
    // once to scratch and both sides re-read it); every number is exact
    // integer arithmetic over the oracled md5-derived signatures — the
    // estimator itself is cross-engine reproducible, not just its error.
    Q("d14_minhash_calibration",
      (s, d) => {
        val dir = graft.Scratch.dir(s, "d14_base")
        val base = Sources.checkpoint(tokenized(s, d)
          .select(col("doc_id"),
            array_distinct(shinglesNative(col("text"), 3)).as("sh"),
            minhashSigNative(col("text"), 16).as("sig")), dir)
        base.as("a")
          .join(base.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
            expr("""aggregate(zip_with(a.sig, b.sig, (x, y) -> IF(x = y, 1L, 0L)),
                   | 0L, (acc, v) -> acc + v)""".stripMargin).as("n_match"),
            size(array_intersect(col("a.sh"), col("b.sh"))).cast("long")
              .as("n_inter"),
            size(array_union(col("a.sh"), col("b.sh"))).cast("long")
              .as("n_union"))
          .select(col("a_id"), col("b_id"), col("n_match"),
            expr("n_match * 1000 div 16").as("est_x1000"),
            expr("n_inter * 1000 div n_union").as("exact_x1000"),
            expr("abs(n_match * 1000 div 16 - n_inter * 1000 div n_union)")
              .as("abs_err_x1000"))
          .orderBy("a_id")
      },
      Some(s"""WITH $sqlTok, $sqlSig, base AS (
              |  SELECT tok.doc_id,
              |    list_distinct([array_to_string(w[i:i+2], ' ')
              |      for i in range(1, len(w) - 1)]) AS shg,
              |    sig.sig AS sig
              |  FROM tok JOIN sig ON tok.doc_id = sig.doc_id
              |), p AS (
              |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              |    CAST(len([i for i in range(1, 17) if a.sig[i] = b.sig[i]])
              |      AS BIGINT) AS n_match,
              |    CAST(len(list_intersect(a.shg, b.shg)) AS BIGINT) AS n_inter,
              |    CAST(len(list_distinct(a.shg || b.shg)) AS BIGINT) AS n_union
              |  FROM base a JOIN base b ON b.doc_id = a.doc_id + 1
              |)
              |SELECT a_id, b_id, n_match,
              |  n_match * 1000 // 16 AS est_x1000,
              |  n_inter * 1000 // n_union AS exact_x1000,
              |  abs(n_match * 1000 // 16 - n_inter * 1000 // n_union)
              |    AS abs_err_x1000
              |FROM p ORDER BY a_id""".stripMargin)),

    // M3 (multimodal): bounding-box RESIZE registered end-to-end — the
    // missing member of the decode / feature-extract / frame-sample
    // quartet (m1/m2): BinaryPipeline.resize runs the typed
    // Dataset[MediaFeatures] path (aspect-preserving integer rescale
    // into 256x256; in production the pixel resample sits beside the
    // decode in the same per-partition batch — the plumbing is what's
    // under test). Input dims derive from the same md5-hash32 expressions
    // m1 emits, so the oracle replays dimension derivation AND the
    // min/num/den clamp arithmetic exactly; the fit flag compares output
    // to input dims identically on both engines. Map-side end to end but
    // the id join of the before/after branches (one equi-join).
    Q("m3_media_resize",
      (s, d) => {
        import s.implicits._
        val dims = documents(s, d)
          .select(col("doc_id").as("media_id"),
            (hash32(col("text")) % 1280 + 64).cast("int").as("width"),
            (hash32(reverse(col("text"))) % 720 + 64).cast("int").as("height"))
        val feats = dims
          .withColumn("channels", lit(3).cast("int"))
          .withColumn("byte_mean_x1000", lit(0L))
          .withColumn("byte_crc", lit(0L))
          .as[graft.multimodal.MediaFeatures]
        val resized = graft.multimodal.BinaryPipeline.resize(feats, 256, 256)
          .toDF()
          .select(col("media_id"), col("width").cast("long").as("out_w"),
            col("height").cast("long").as("out_h"))
        dims
          .select(col("media_id"), col("width").cast("long").as("in_w"),
            col("height").cast("long").as("in_h"))
          .join(resized, Seq("media_id"))
          .withColumn("already_fit",
            (col("in_w") === col("out_w") && col("in_h") === col("out_h"))
              .cast("int"))
          .orderBy("media_id")
      },
      Some(s"""WITH f AS (
              |  SELECT doc_id AS media_id,
              |    ${sqlH32("text")} % 1280 + 64 AS in_w,
              |    ${sqlH32("reverse(text)")} % 720 + 64 AS in_h
              |  FROM documents
              |), r AS (
              |  SELECT media_id, in_w, in_h,
              |    least(256 * in_h, 256 * in_w) AS num, in_w * in_h AS den
              |  FROM f
              |)
              |SELECT media_id, CAST(in_w AS BIGINT) AS in_w,
              |  CAST(in_h AS BIGINT) AS in_h,
              |  CAST(CASE WHEN num >= den THEN in_w
              |    ELSE greatest(1, in_w * num // den) END AS BIGINT) AS out_w,
              |  CAST(CASE WHEN num >= den THEN in_h
              |    ELSE greatest(1, in_h * num // den) END AS BIGINT) AS out_h,
              |  CAST(in_w = (CASE WHEN num >= den THEN in_w
              |      ELSE greatest(1, in_w * num // den) END)
              |    AND in_h = (CASE WHEN num >= den THEN in_h
              |      ELSE greatest(1, in_h * num // den) END) AS INT)
              |    AS already_fit
              |FROM r ORDER BY media_id""".stripMargin)),

    // U7: snapshot ROLLBACK (operators/SnapshotStore.rollback) — the
    // Delta-RESTORE member of the u-family: a bad publish is undone by
    // RE-COMMITTING the last good version's content as a NEW version,
    // never by moving the pointer backward (readers' "live version only
    // grows" invariant survives; the bad version stays readable for
    // forensics/diff — u2's operator). The query publishes v1 (the
    // even-id half), v2 (the full corpus — the "bad" batch), rolls back
    // to v1, and reads ALL THREE versions back through the store plus
    // the live pointer — every row derivable from the source table, so
    // the store's restore mechanics are exactly oracled (v3's digest
    // MUST equal v1's).
    Q("u7_snapshot_rollback",
      (s, d) => {
        import graft.operators.SnapshotStore
        // Deterministic root per (session, sfDir) + wipe-before-publish:
        // a UUID-per-invocation root let repeated gate/bench runs inside
        // one long-lived JVM accumulate unbounded scratch stores (ADVICE
        // r11); a stable name re-used across invocations would instead
        // keep APPENDING versions (v4, v5, …) and break the exact 3-row
        // oracle. Overwrite semantics give both properties.
        val root = graft.Scratch.dir(s,
          s"u7_store_${graft.Scratch.key(d)}")
        val rootPath = new org.apache.hadoop.fs.Path(root)
        val fs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(rootPath)) fs.delete(rootPath, true)
        val docs = documents(s, d).select(col("doc_id"), col("source"))
        SnapshotStore.publish(docs.filter(col("doc_id") % 2 === 0), root)
        SnapshotStore.publish(docs, root)
        SnapshotStore.rollback(s, root, 1)
        val vCur = SnapshotStore.currentVersion(s, root).get
        (1 to vCur).map { v =>
          SnapshotStore.readVersion(s, root, v)
            .agg(count(lit(1)).as("n_rows"),
              md5(concat_ws(",",
                transform(sort_array(collect_list(col("doc_id"))),
                  _.cast("string")))).as("id_digest"))
            .select(lit(v).cast("long").as("version"), col("n_rows"),
              col("id_digest"), lit(if (v == vCur) 1 else 0).as("is_live"))
        }.reduce(_.unionByName(_)).orderBy("version")
      },
      Some("""WITH ev AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |    md5(string_agg(doc_id, ',' ORDER BY doc_id)) AS dg
             |  FROM documents WHERE doc_id % 2 = 0
             |), al AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |    md5(string_agg(doc_id, ',' ORDER BY doc_id)) AS dg
             |  FROM documents
             |)
             |SELECT 1::BIGINT AS version, ev.n AS n_rows, ev.dg AS id_digest,
             |  0 AS is_live FROM ev
             |UNION ALL
             |SELECT 2::BIGINT, al.n, al.dg, 0 FROM al
             |UNION ALL
             |SELECT 3::BIGINT, ev.n, ev.dg, 1 FROM ev
             |ORDER BY version""".stripMargin)),

    // M15 (multimodal): ViT-style PATCH GRID — the tiling step between
    // m3's resize and a vision encoder: each resized image becomes its
    // grid of 64px patches with edge patches clipped, the row explosion
    // a multimodal training pipeline feeds to the tokenizer (one row per
    // patch, so downstream packing/batching operators — t9/t13 — apply
    // unchanged to vision tokens). Dims derive from m1/m3's md5-hash32
    // expressions and the resize replays m3's exact min/num/den clamp,
    // so the whole grid is integer-deterministic and the oracle replays
    // it cell for cell. Map-side only: project + two bounded explodes
    // (<= ceil(256/64)² = 16 rows per media), no shuffle at all until
    // the presentation sort.
    Q("m15_patch_grid",
      (s, d) => {
        val dims = documents(s, d).select(col("doc_id").as("media_id"),
          (hash32(col("text")) % 1280 + 64).cast("long").as("in_w"),
          (hash32(reverse(col("text"))) % 720 + 64).cast("long").as("in_h"))
        val out = dims
          .select(col("media_id"), col("in_w"), col("in_h"),
            expr("least(256 * in_h, 256 * in_w)").as("num"),
            (col("in_w") * col("in_h")).as("den"))
          .select(col("media_id"),
            expr("""CASE WHEN num >= den THEN in_w
                   | ELSE greatest(1, in_w * num div den) END""".stripMargin)
              .as("out_w"),
            expr("""CASE WHEN num >= den THEN in_h
                   | ELSE greatest(1, in_h * num div den) END""".stripMargin)
              .as("out_h"))
        out
          .select(col("media_id"), col("out_w"), col("out_h"),
            explode(sequence(lit(0L), expr("(out_h + 63) div 64 - 1")))
              .as("py"))
          .select(col("media_id"), col("out_w"), col("out_h"), col("py"),
            explode(sequence(lit(0L), expr("(out_w + 63) div 64 - 1")))
              .as("px"))
          .select(col("media_id"), col("px"), col("py"),
            (col("px") * 64).as("x0"), (col("py") * 64).as("y0"),
            least(lit(64L), col("out_w") - col("px") * 64).as("pw"),
            least(lit(64L), col("out_h") - col("py") * 64).as("ph"))
          .orderBy("media_id", "py", "px")
      },
      Some(s"""WITH f AS (
              |  SELECT doc_id AS media_id,
              |    ${sqlH32("text")} % 1280 + 64 AS in_w,
              |    ${sqlH32("reverse(text)")} % 720 + 64 AS in_h
              |  FROM documents
              |), r AS (
              |  SELECT media_id, in_w, in_h,
              |    least(256 * in_h, 256 * in_w) AS num, in_w * in_h AS den
              |  FROM f
              |), o AS (
              |  SELECT media_id,
              |    CAST(CASE WHEN num >= den THEN in_w
              |      ELSE greatest(1, in_w * num // den) END AS BIGINT) AS out_w,
              |    CAST(CASE WHEN num >= den THEN in_h
              |      ELSE greatest(1, in_h * num // den) END AS BIGINT) AS out_h
              |  FROM r
              |), gy AS (
              |  SELECT media_id, out_w, out_h,
              |    unnest(range(0, (out_h + 63) // 64)) AS py
              |  FROM o
              |), gxy AS (
              |  SELECT media_id, out_w, out_h, py,
              |    unnest(range(0, (out_w + 63) // 64)) AS px
              |  FROM gy
              |)
              |SELECT media_id, CAST(px AS BIGINT) AS px,
              |  CAST(py AS BIGINT) AS py,
              |  CAST(px * 64 AS BIGINT) AS x0, CAST(py * 64 AS BIGINT) AS y0,
              |  CAST(least(64, out_w - px * 64) AS BIGINT) AS pw,
              |  CAST(least(64, out_h - py * 64) AS BIGINT) AS ph
              |FROM gxy ORDER BY media_id, py, px""".stripMargin)),

    // M16 (multimodal): AUDIO FRAME GRID — the framing step between a
    // decoder and a speech encoder (wav2vec/Whisper shape: 25 ms windows
    // every 10 ms = win 400 / hop 160 samples at 16 kHz), completing the
    // image (m15 patches) / video (m2 frames) / audio triple. The decode
    // itself is STUBBED deterministically (this container ships no audio
    // libs): sample count and rate derive from m1's hash32/byte-length
    // expressions (16-bit mono upsampled x64 so every doc spans hundreds
    // of frames), while the framing ARITHMETIC — frame count, last frame
    // start, uncovered tail, integer-ms duration — is the real math a
    // speech pipeline feeds its tokenizer, exactly oracled. Map-side
    // only: one projection, no shuffle before the presentation sort; at
    // 100 TB this is a pure scan (the per-FRAME explosion is t9/t13's
    // packing problem and m2's sampleFrames path — deliberately not
    // re-done here; this op is the grid metadata).
    Q("m16_audio_frames",
      (s, d) => {
        val win = 400L
        val hop = 160L
        documents(s, d)
          .select(col("doc_id").as("media_id"),
            (hash32(col("text")) % 2).as("h2"),
            (octet_length(col("text").cast("binary")) * 32).cast("long")
              .as("n_samples"))
          .select(col("media_id"),
            (lit(16000L) + col("h2") * 28100L).as("sample_rate"),
            col("n_samples"))
          .select(col("media_id"), col("sample_rate"), col("n_samples"),
            // div, not `/`: Spark's / on longs is DOUBLE division
            when(col("n_samples") >= win,
              expr(s"(n_samples - $win) div $hop") + 1L)
              .otherwise(0L).cast("long").as("n_frames"))
          .select(col("media_id"), col("sample_rate"), col("n_samples"),
            col("n_frames"),
            when(col("n_frames") > 0, (col("n_frames") - 1) * hop)
              .cast("long").as("last_start"),
            when(col("n_frames") > 0,
              col("n_samples") - ((col("n_frames") - 1) * hop + win))
              .otherwise(col("n_samples")).cast("long").as("tail_samples"),
            expr("n_samples * 1000 div sample_rate").as("dur_ms"))
          .orderBy("media_id")
      },
      Some(s"""WITH m AS (
              |  SELECT doc_id AS media_id,
              |    16000 + (${sqlH32("text")} % 2) * 28100 AS sample_rate,
              |    CAST(octet_length(encode(text)) * 32 AS BIGINT)
              |      AS n_samples
              |  FROM documents
              |), f AS (
              |  SELECT media_id, CAST(sample_rate AS BIGINT) AS sample_rate,
              |    n_samples,
              |    CAST(CASE WHEN n_samples >= 400
              |      THEN (n_samples - 400) // 160 + 1 ELSE 0 END AS BIGINT)
              |      AS n_frames
              |  FROM m
              |)
              |SELECT media_id, sample_rate, n_samples, n_frames,
              |  CAST(CASE WHEN n_frames > 0 THEN (n_frames - 1) * 160 END
              |    AS BIGINT) AS last_start,
              |  CAST(CASE WHEN n_frames > 0
              |    THEN n_samples - ((n_frames - 1) * 160 + 400)
              |    ELSE n_samples END AS BIGINT) AS tail_samples,
              |  CAST(n_samples * 1000 // sample_rate AS BIGINT) AS dur_ms
              |FROM f ORDER BY media_id""".stripMargin)),

    // U8: CDC APPLY — the merge step that turns a change feed
    // (insert/update/delete ops keyed by entity, ordered by time) into
    // the entity's final state: u1's upsert generalized with DELETE
    // tombstones. The scale point: last-writer-wins is an ASSOCIATIVE
    // reduction — max of (ts, id, op, payload) structs — so Spark runs
    // it as ONE partial-combining aggregate (map-side max per key, no
    // window, no per-key sort of the fact table); the oracle's
    // row_number()-DESC window is the semantic spec, not the plan.
    // The feed derives deterministically from events (view→I, click→U,
    // purchase→D) so every surviving row is exactly oracled.
    Q("u8_cdc_apply",
      (s, d) => {
        val ops = events(s, d).select(col("user_id"), col("ts"),
          col("event_id"),
          when(col("event_type") === "view", "I")
            .when(col("event_type") === "purchase", "D")
            .otherwise("U").as("op"),
          round(col("value") * 100).cast("long").as("c"))
        ops.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_ops"),
            max(struct(col("ts"), col("event_id"), col("op"), col("c")))
              .as("last"))
          .select(col("user_id"), col("n_ops"),
            col("last.op").as("last_op"), col("last.c").as("value_cents"))
          .filter(col("last_op") =!= "D")
          .orderBy("user_id")
      },
      Some("""WITH ops AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN event_type = 'view' THEN 'I'
             |      WHEN event_type = 'purchase' THEN 'D'
             |      ELSE 'U' END AS op,
             |    CAST(round(value * 100) AS BIGINT) AS c
             |  FROM events
             |), ranked AS (
             |  SELECT user_id, op, c,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts DESC, event_id DESC) AS rn,
             |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
             |  FROM ops
             |)
             |SELECT user_id, n_ops, op AS last_op, c AS value_cents
             |FROM ranked WHERE rn = 1 AND op <> 'D'
             |ORDER BY user_id""".stripMargin)),

    // C15: curriculum phase assignment — length-ordered easy-to-hard
    // scheduling (the standard curriculum proxy: short documents first),
    // the ordering complement of c13's temperature mixing and c7's
    // epoch shuffle. The global rank rides GlobalRank's two-phase pass
    // (t9/t15's rule — a 100 TB corpus never coalesces into one window
    // partition; the oracle's row_number() window is the semantic spec,
    // not the plan), the phase is the exact integer (rank−1)·4 div n,
    // and the output is the 4-row phase manifest a training scheduler
    // consumes — counts, char ranges, and per-phase char mass, all
    // exact longs.
    Q("c15_curriculum_phases",
      (s, d) => {
        import graft.operators.GlobalRank
        val docs = documents(s, d).select(col("doc_id"), col("n_chars"))
        val ranked = GlobalRank.withRowNumber(docs,
          Seq(col("n_chars").asc, col("doc_id").asc), "rk")
        val tot = docs.agg(count(lit(1)).as("n"))
        ranked.crossJoin(broadcast(tot))
          .select(col("doc_id"), col("n_chars"),
            expr("(rk - 1) * 4 div n").as("phase"))
          .groupBy(col("phase"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("phase")
      },
      Some("""WITH ranked AS (
             |  SELECT doc_id, n_chars,
             |    CAST(row_number() OVER (ORDER BY n_chars, doc_id)
             |      AS BIGINT) AS rk
             |  FROM documents
             |), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
             |SELECT (rk - 1) * 4 // n AS phase,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(min(n_chars) AS BIGINT) AS min_chars,
             |  CAST(max(n_chars) AS BIGINT) AS max_chars,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM ranked CROSS JOIN tot
             |GROUP BY phase ORDER BY phase""".stripMargin)),

    // T27: content-defined chunking — the dedup-friendly chunker beside
    // t13's fixed-size windows: a boundary falls AFTER token p whenever
    // the trigram ending at p hashes to 0 mod 64 (expected chunk ~64
    // tokens), so an insertion early in a document shifts only the
    // chunks it touches — fixed-size chunking re-cuts everything after
    // the edit, content-defined cuts re-align (the property rsync/LBFS
    // built on, and what makes chunk-hash dedup incremental). Hashes
    // are the engine-identical md5-derived hash32 (d2's discipline), so
    // boundaries are exactly oracled. Scale shape: the WHOLE computation
    // is per-row array HOFs — no explode, no window, no shuffle before
    // the presentation sort; chunk stats come off the boundary-position
    // array in the same projection.
    Q("t27_cdc_chunking",
      (s, d) => {
        val bounds = filter(
          sequence(lit(3), size(col("w"))),
          p => hash32(concat_ws(" ", slice(col("w"), p - 2, lit(3)))) % 64 === 0)
        tokenized(s, d)
          .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
            bounds.as("bs"))
          .select(col("doc_id"), col("n_tokens"),
            (size(col("bs")) + 1).cast("long").as("n_chunks"),
            expr("n_tokens * 1000 div (size(bs) + 1)").as("avg_chunk_x1000"),
            // try_element_at: a boundary-free doc has an EMPTY bs and
            // plain element_at raises under ANSI array indexing
            coalesce(expr("try_element_at(bs, 1)").cast("long"),
              col("n_tokens")).as("first_chunk_len"),
            (col("n_tokens")
              - coalesce(expr("try_element_at(bs, -1)").cast("long"), lit(0L)))
              .as("last_chunk_len"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlTok, b AS (
              |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n,
              |    [p for p in range(3, len(w) + 1)
              |     if ${sqlH32("array_to_string(w[p-2:p], ' ')")} % 64 = 0]
              |      AS bs
              |  FROM tok
              |)
              |SELECT doc_id, n AS n_tokens,
              |  CAST(len(bs) + 1 AS BIGINT) AS n_chunks,
              |  CAST(n * 1000 // (len(bs) + 1) AS BIGINT) AS avg_chunk_x1000,
              |  CAST(coalesce(bs[1], n) AS BIGINT) AS first_chunk_len,
              |  CAST(n - coalesce(bs[-1], 0) AS BIGINT) AS last_chunk_len
              |FROM b ORDER BY doc_id""".stripMargin)),

    // D15: chunk-hash dedup — WHY t27 exists: content-defined chunks
    // hash stably across edits, so cross-document duplicate chunks are
    // found by a plain hash groupBy (dedup-storage's FastCDC move,
    // applied to corpus curation: shared boilerplate/quoted passages
    // surface as multi-doc chunk groups even when the surrounding
    // documents differ — the chunk-granular middle ground between d1's
    // whole-doc hash and d9's k-gram spans). Per-row HOFs derive the
    // chunk spans off t27's boundary array and hash each span (one
    // hash32 per chunk, engine-identical md5 arithmetic); ONE
    // partial-combining groupBy on the 32-bit chunk hash finds the
    // groups; >= 2 distinct docs keeps only cross-doc duplication;
    // top-20 lowers to TakeOrdered. No self-join, no all-pairs,
    // no window.
    Q("d15_chunk_dedup",
      (s, d) => {
        // unlike t27's stat readout, the spans get HASHED here — so a
        // boundary after the FINAL token (which would make a degenerate
        // empty last chunk: Spark hashes "", DuckDB nulls it) is
        // excluded: the range stops at n−1 and every chunk is non-empty.
        // The when() guards the 3-token doc: Spark's sequence(3, 2)
        // would run DESCENDING, not empty like DuckDB's range(3, 3).
        val bounds = filter(
          when(size(col("w")) >= 4, sequence(lit(3), size(col("w")) - 1))
            .otherwise(array().cast("array<int>")),
          p => hash32(concat_ws(" ", slice(col("w"), p - 2, lit(3)))) % 64 === 0)
        // materialize (w, bs) to storage before the chunk-hash pass:
        // the optimizer re-inlines the tokenizer split() into the HOF
        // lambdas otherwise (RegistryAuditSpec's lambda class — re-tokenizing
        // once per chunk), and a 100 TB pipeline hashes chunks off a
        // materialized token table anyway (d5's discipline)
        val dir = graft.Scratch.dir(s, "d15_chunks")
        val base = Sources.checkpoint(tokenized(s, d)
          .select(col("doc_id"), col("w"), bounds.as("bs")), dir)
        val starts = concat(array(lit(1)), transform(col("bs"), b => b + 1))
        val ends = concat(col("bs"), array(size(col("w"))))
        base
          .select(col("doc_id"),
            zip_with(starts, ends, (st, en) =>
              hash32(concat_ws(" ", slice(col("w"), st, en - st + 1))))
              .as("hs"))
          .select(col("doc_id"), explode(col("hs")).as("chunk_hash"))
          .groupBy(col("chunk_hash"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_occ"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"))
          .filter(col("n_docs") >= 2)
          .orderBy(desc("n_occ"), col("chunk_hash"))
          .limit(20)
      },
      Some(s"""WITH $sqlTok, b AS (
              |  SELECT doc_id, w, len(w) AS n,
              |    [p for p in range(3, len(w))
              |     if ${sqlH32("array_to_string(w[p-2:p], ' ')")} % 64 = 0]
              |      AS bs
              |  FROM tok
              |), ch AS (
              |  SELECT doc_id, unnest([
              |    ${sqlH32(
                     """array_to_string(w[
                       |      (CASE WHEN i = 1 THEN 1 ELSE bs[i-1] + 1 END)
                       |      : (CASE WHEN i = len(bs) + 1 THEN n
                       |         ELSE bs[i] END)], ' ')""".stripMargin)}
              |    for i in range(1, len(bs) + 2)]) AS chunk_hash
              |  FROM b
              |)
              |SELECT chunk_hash,
              |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
              |  CAST(count(*) AS BIGINT) AS n_occ,
              |  CAST(min(doc_id) AS BIGINT) AS min_doc,
              |  CAST(max(doc_id) AS BIGINT) AS max_doc
              |FROM ch GROUP BY chunk_hash
              |HAVING count(DISTINCT doc_id) >= 2
              |ORDER BY n_occ DESC, chunk_hash LIMIT 20""".stripMargin)),

    // D16: exact MAXIMAL-substring dedup (Lee et al. 2022 ExactSubstr,
    // VERDICT r12 #6) — d9 detects duplicated k-grams and d12 counts the
    // excised token mass, but neither reports the maximal shared spans
    // with EXACT arbitrary boundaries (d15's CDC chunks are chunk-
    // granular). Suffix arrays don't distribute; the equivalent
    // distributed form is anchor k-grams + longest-common-extension, and
    // the LCE step needs NO text re-comparison: fix a document pair and
    // a diagonal (pa − pb). If tokens pa..pa+m−1 of A equal pb..pb+m−1
    // of B maximally (m >= k), then EVERY k-gram start in [pa, pa+m−k]
    // is an anchor hit on that diagonal, consecutive by construction;
    // conversely two maximal runs on one diagonal are separated by a
    // mismatch, so their anchor-start sets are >= 2 apart. Hence
    // gaps-and-islands over anchor starts per (pair, diagonal) yields
    // EXACTLY the maximal common extensions >= k — each island's
    // [min(pa), max(pa)+k−1] is one maximal span, with both endpoints
    // exact. Runs in [k, L) are then dropped (L=12 is the report floor;
    // Lee et al. use 50 BPE tokens at corpus scale).
    // Scale shape: the anchor self-join shuffles (span, doc, pos) — hot
    // anchors fan out by their doc-frequency, which IS the pair
    // semantics (testdata max docfreq: 4; a web corpus would pre-shard
    // anchors by xxhash64(span) and cap stop-phrase frequency, exactly
    // Lee et al.'s practical concession). Both join sides are the SAME
    // exploded subtree, so the exchange is computed once and reused;
    // the islands window partitions by (pair, diagonal) — state bounded
    // by one run, never a document, never the corpus.
    Q("d16_exact_substr",
      (s, d) => {
        import graft.operators.ExactSubstr
        val occ = ExactSubstr.anchors(tokenized(s, d), col("text"), 8)
        ExactSubstr.maximalSpans(occ, k = 8, minLen = 12)
          .orderBy("doc_a", "doc_b", "start_a", "start_b")
      },
      Some(s"""WITH $sqlTok, occ AS (
              |  SELECT doc_id, CAST(u.i AS BIGINT) AS p,
              |    array_to_string(w[u.i:u.i+7], ' ') AS span
              |  FROM tok, unnest(range(1, len(w) - 6)) AS u(i)
              |), pairs AS (
              |  SELECT a.doc_id AS da, b.doc_id AS db, a.p AS pa, b.p AS pb,
              |    a.p - b.p AS off
              |  FROM occ a JOIN occ b
              |    ON a.span = b.span AND a.doc_id < b.doc_id
              |), isl AS (
              |  SELECT da, db, off, pa,
              |    pa - row_number() OVER (PARTITION BY da, db, off
              |      ORDER BY pa) AS grp
              |  FROM pairs
              |), runs AS (
              |  SELECT da, db, off, min(pa) AS start_a,
              |    max(pa) - min(pa) + 8 AS len
              |  FROM isl GROUP BY da, db, off, grp
              |)
              |SELECT da AS doc_a, db AS doc_b,
              |  CAST(start_a AS BIGINT) AS start_a,
              |  CAST(start_a - off AS BIGINT) AS start_b,
              |  CAST(len AS BIGINT) AS len
              |FROM runs WHERE len >= 12
              |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin)),

    // D17: exact maximal WITHIN-document repeats (VERDICT r13 #4) —
    // d16's pair join is a.doc_id < b.doc_id, so Lee et al.'s OTHER
    // excision source (the same span repeated INSIDE one document; t12's
    // repetition ratio approximates it but reports no exact spans) is
    // structurally excluded there. Same anchor+islands machinery on
    // same-doc pairs with pa < pb: the strict order drops the trivial
    // off = 0 self-diagonal and counts each occurrence pair once;
    // tandem repeats with period < k are one long overlapping-sides run
    // (a valid repeat, not an artifact — ExactSubstrSpec replays the
    // period-2 and triple-occurrence cases against brute force).
    // The synthetic corpus has no natural >= 12-token self-repeat at any
    // scale (verified by running the oracle unplanted), so the fixture
    // is PLANTED deterministically on both sides: every 7th doc with
    // >= 30 tokens gets tokens 5..24 appended — a >= 20-token repeat
    // whose maximal boundaries the operator must recover exactly.
    // Scale shape is d16's verbatim: one exploded anchor subtree, both
    // self-join sides the same exchange (ReusedExchange), islands window
    // partitioned by (doc, diagonal) — state bounded by one run.
    Q("d17_self_repeats",
      (s, d) => {
        import graft.operators.ExactSubstr
        val planted = tokenized(s, d).select(col("doc_id"),
          when(col("doc_id") % 7 === 0 && size(col("w")) >= 30,
            concat(col("w"), slice(col("w"), 5, 20)))
            .otherwise(col("w")).as("w"))
        val occ = ExactSubstr.anchorsFromTokens(planted, col("w"), 8)
        ExactSubstr.selfMaximalSpans(occ, k = 8, minLen = 12)
          .orderBy("doc_id", "start_a", "start_b")
      },
      Some(s"""WITH $sqlTok, pl AS (
              |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 AND len(w) >= 30
              |    THEN w || w[5:24] ELSE w END AS w
              |  FROM tok
              |), occ AS (
              |  SELECT doc_id, CAST(u.i AS BIGINT) AS p,
              |    array_to_string(w[u.i:u.i+7], ' ') AS span
              |  FROM pl, unnest(range(1, len(w) - 6)) AS u(i)
              |), pairs AS (
              |  SELECT a.doc_id AS doc, a.p AS pa, b.p - a.p AS off
              |  FROM occ a JOIN occ b
              |    ON a.span = b.span AND a.doc_id = b.doc_id AND a.p < b.p
              |), isl AS (
              |  SELECT doc, off, pa,
              |    pa - row_number() OVER (PARTITION BY doc, off
              |      ORDER BY pa) AS grp
              |  FROM pairs
              |), runs AS (
              |  SELECT doc, off, min(pa) AS start_a,
              |    max(pa) - min(pa) + 8 AS len
              |  FROM isl GROUP BY doc, off, grp
              |)
              |SELECT doc AS doc_id,
              |  CAST(start_a AS BIGINT) AS start_a,
              |  CAST(start_a + off AS BIGINT) AS start_b,
              |  CAST(len AS BIGINT) AS len
              |FROM runs WHERE len >= 12
              |ORDER BY doc_id, start_a, start_b""".stripMargin)),

    // U9: snapshot RETENTION (vacuum) — the missing lifecycle face of
    // the u1-u8 table-format tier: storage is reclaimed by deleting
    // versions older than the retention window while the live pointer
    // and the `keep` most recent versions stay readable (u2's time
    // travel keeps working inside the window, u7's rollback outside it
    // becomes impossible BY POLICY — that is what retention means).
    // Four published versions, vacuum(keep=2), and every version's
    // post-vacuum state emitted — retained flag, row count and
    // order-insensitive digest for survivors — all derivable from the
    // source table, so the real store mechanics are exactly oracled.
    // The vacuum decision is a driver action by nature (u6's rule);
    // per-version stats are one aggregate each over tiny version reads.
    Q("u9_snapshot_vacuum",
      (s, d) => {
        import graft.operators.SnapshotStore
        // u7's scratch discipline: deterministic root + wipe
        val root = graft.Scratch.dir(s,
          s"u9_store_${graft.Scratch.key(d)}")
        val rootPath = new org.apache.hadoop.fs.Path(root)
        val rfs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (rfs.exists(rootPath)) rfs.delete(rootPath, true)
        val docs = documents(s, d).select(col("doc_id"), col("source"))
        SnapshotStore.publish(docs.filter(col("doc_id") % 4 === 0), root)
        SnapshotStore.publish(docs.filter(col("doc_id") % 2 === 0), root)
        SnapshotStore.publish(docs.filter(col("doc_id") % 4 =!= 3), root)
        SnapshotStore.publish(docs, root)
        val removed = SnapshotStore.vacuum(s, root, keep = 2).toSet
        val vCur = SnapshotStore.currentVersion(s, root).get
        (1 to 4).map { v =>
          if (removed(v))
            s.range(1).select(lit(v.toLong).as("version"),
              lit(0).as("retained"),
              lit(null).cast("long").as("n_rows"),
              lit(null).cast("string").as("id_digest"),
              lit(0).as("is_live"))
          else
            SnapshotStore.readVersion(s, root, v)
              .agg(count(lit(1)).as("n_rows"),
                md5(concat_ws(",",
                  transform(sort_array(collect_list(col("doc_id"))),
                    _.cast("string")))).as("id_digest"))
              .select(lit(v.toLong).as("version"), lit(1).as("retained"),
                col("n_rows"), col("id_digest"),
                lit(if (v == vCur) 1 else 0).as("is_live"))
        }.reduce(_.unionByName(_)).orderBy("version")
      },
      Some("""WITH q3 AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |    md5(string_agg(doc_id, ',' ORDER BY doc_id)) AS dg
             |  FROM documents WHERE doc_id % 4 <> 3
             |), al AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |    md5(string_agg(doc_id, ',' ORDER BY doc_id)) AS dg
             |  FROM documents
             |)
             |SELECT 1::BIGINT AS version, 0 AS retained,
             |  NULL::BIGINT AS n_rows, NULL::VARCHAR AS id_digest,
             |  0 AS is_live
             |UNION ALL
             |SELECT 2::BIGINT, 0, NULL::BIGINT, NULL::VARCHAR, 0
             |UNION ALL
             |SELECT 3::BIGINT, 1, q3.n, q3.dg, 0 FROM q3
             |UNION ALL
             |SELECT 4::BIGINT, 1, al.n, al.dg, 1 FROM al
             |ORDER BY version""".stripMargin)),

    // E14: k-NN GRAPH over the embedding table — the neighborhood
    // structure SemDeDup-style clustering (e6) and graph dedup (d7)
    // consume: per vector, its top-3 in-bucket neighbors by exact
    // cosine. Candidates come from e2/e3's sign-bucket join (the
    // never-all-pairs discipline; a web-scale build widens to more
    // hash bits exactly like e2's scale note) taken in BOTH directions
    // (each node ranks its own neighborhood), cosines are e1's
    // BitPinned sequential array folds rounded at 5dp, and the top-3
    // cut is a per-node rank under the (cos DESC, nbr_id) total
    // tie-break — row_number <= k lowers to WindowGroupLimit (w2's
    // shape), so the shuffle carries at most k rows per node per map
    // partition.
    Q("e14_knn_graph",
      (s, d) => {
        val emb = bucketedEmbeddings(s, d)
        val pairs = emb.as("x")
          .join(emb.as("y").hint("shuffle_hash"),
            col("x.bucket") === col("y.bucket")
              && col("x.vec_id") =!= col("y.vec_id"))
          .select(col("x.vec_id").as("vec_id"),
            col("y.vec_id").as("nbr_id"),
            round(dot(col("x.v"), col("y.v"))
              / (col("x.nrm") * col("y.nrm")), 5).as("cos"))
        val byNode = Window.partitionBy(col("vec_id"))
          .orderBy(col("cos").desc, col("nbr_id"))
        pairs
          .withColumn("rank", row_number().over(byNode))
          .filter(col("rank") <= 3)
          .select(col("vec_id"), col("rank").cast("long").as("rank"),
            col("nbr_id"), col("cos"))
          .orderBy("vec_id", "rank")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS v,
             |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
             |    + (CASE WHEN embedding[22] > 0 THEN 2 ELSE 0 END)
             |    + (CASE WHEN embedding[43] > 0 THEN 4 ELSE 0 END) AS bucket
             |  FROM embeddings
             |), p AS (
             |  SELECT x.vec_id AS vec_id, y.vec_id AS nbr_id,
             |    round(list_sum([x.v[i] * y.v[i] for i in range(1, len(x.v) + 1)])
             |      / (sqrt(list_sum([a*a for a in x.v])) * sqrt(list_sum([b*b for b in y.v]))),
             |      5) AS cos
             |  FROM e x JOIN e y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id
             |), rk AS (
             |  SELECT vec_id, nbr_id, cos, CAST(row_number() OVER (
             |    PARTITION BY vec_id ORDER BY cos DESC, nbr_id) AS BIGINT)
             |    AS rank
             |  FROM p
             |)
             |SELECT vec_id, rank, nbr_id, cos FROM rk WHERE rank <= 3
             |ORDER BY vec_id, rank""".stripMargin)),

    // E15: MATRYOSHKA TRUNCATION EVAL (Kusupati et al. 2022) — the
    // question an embedding-serving pipeline asks before shipping
    // truncated vectors: how much neighbor fidelity survives at each
    // prefix length? For each dim prefix p in {8,16,32,64}, the exact
    // top-10 under the prefix cosine is compared to the full-dim
    // top-10; per (dim, query) the overlap and recall@10 emit as exact
    // integers. The dim=64 rows are the built-in positive control
    // (overlap 10 by construction). Scale shape: ONE corpus pass — the
    // pair join explodes per-prefix (dim, cos) rows instead of
    // streaming the corpus once per prefix (ExactCosine.topKPrefixes,
    // sharing e1/e4's rounding + tie-break conventions); the ranked
    // result (4·|Q|·10 rows) is MATERIALIZED to scratch because the
    // overlap join reads it twice (prefix side + full side), and the
    // consumer plan never rescans embeddings (PlanSpec pin).
    Q("e15_matryoshka",
      (s, d) => {
        val dir = graft.Scratch.dir(s, s"e15_topk_${graft.Scratch.key(d)}")
        val emb = embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val q = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val all = Sources.checkpoint(graft.similarity.ExactCosine
          .topKPrefixes(emb, q, 10, Seq(8, 16, 32, 64))
          .select(col("dim"), col("q_id"), col("cand_id")), dir)
        val full = all.filter(col("dim") === 64)
          .select(col("q_id"), col("cand_id"), lit(1L).as("hit"))
        all.join(full, Seq("q_id", "cand_id"), "left_outer")
          .groupBy(col("dim"), col("q_id"))
          .agg(sum(coalesce(col("hit"), lit(0L))).as("overlap10"))
          .select(col("dim"), col("q_id"), col("overlap10"),
            (col("overlap10") * 1000).as("recall_x1e4"))
          .orderBy("dim", "q_id")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
             |), q AS (
             |  SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8
             |), p AS (
             |  SELECT q_id, e.vec_id AS cand_id, d.dim,
             |    round(list_sum([qv[i] * v[i]
             |        for i in range(1, d.dim + 1)])
             |      / (sqrt(list_sum([v[i] * v[i]
             |          for i in range(1, d.dim + 1)]))
             |       * sqrt(list_sum([qv[i] * qv[i]
             |          for i in range(1, d.dim + 1)]))), 5) AS cos
             |  FROM e CROSS JOIN q
             |  CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS dim) d
             |  WHERE e.vec_id != q_id
             |), r AS (
             |  SELECT q_id, cand_id, dim,
             |    row_number() OVER (PARTITION BY dim, q_id
             |      ORDER BY cos DESC, cand_id) AS rn
             |  FROM p
             |), fullk AS (
             |  SELECT q_id, cand_id FROM r WHERE dim = 64 AND rn <= 10
             |), pref AS (
             |  SELECT dim, q_id, cand_id FROM r WHERE rn <= 10
             |)
             |SELECT CAST(dim AS BIGINT) AS dim, q_id,
             |  CAST(count(f.cand_id) AS BIGINT) AS overlap10,
             |  CAST(count(f.cand_id) * 1000 AS BIGINT) AS recall_x1e4
             |FROM pref LEFT JOIN fullk f USING (q_id, cand_id)
             |GROUP BY dim, q_id ORDER BY dim, q_id""".stripMargin)),

    // C16: MIXTURE RAKING — iterative proportional fitting of the
    // lang x source contingency to target marginals (uniform language
    // share x uniform source share), the statistically-grounded form of
    // what c6's domain cap and c13's temperature mix approximate: a
    // sampling-weight table whose BOTH margins hit their targets
    // simultaneously. Three IPF rounds (row-fit then column-fit) on
    // weights held as exact x1e12 SHARES — counts would blow the
    // int64-lowered quotients at 100 TB, shares keep every product
    // <= 1e24 in DECIMAL(38,0)/HUGEINT and every quotient <= 1e12
    // (HeadroomAudit entry). Structural zeros (unobserved cells) stay
    // zero, the classic raking convention. Scale shape: ONE
    // partial-combining groupBy collapses the corpus to the |langs| x
    // |sources| frame; every round is join+agg algebra on that tiny
    // frame, MATERIALIZED per round (f6's discipline — each round
    // references its predecessor twice, so an unmaterialized chain
    // doubles the plan per round), and the fact table is scanned once.
    Q("c16_mixture_raking",
      (s, d) => {
        val docs = documents(s, d).select(col("lang"), col("source"))
        val obs = docs.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_obs"))
        val tot = obs.agg(sum(col("n_obs")).as("nn"))
        val dims = obs.agg(count_distinct(col("lang")).as("nl"),
          count_distinct(col("source")).as("ns"))
        var cur = Sources.checkpoint(
          obs.crossJoin(broadcast(tot)).crossJoin(broadcast(dims))
            .select(col("lang"), col("source"), col("n_obs"),
              expr("CAST(n_obs AS DECIMAL(38,0)) * 1000000000000 div nn")
                .as("w"),
              expr("1000000000000 div nl").as("tl"),
              expr("1000000000000 div ns").as("tsrc")),
          graft.Scratch.dir(s, "c16_base"))
        for (r <- 1 to 3) {
          val rowSum = cur.groupBy(col("lang")).agg(sum(col("w")).as("sl"))
          val afterRow = cur.join(broadcast(rowSum), Seq("lang"))
            .select(col("lang"), col("source"), col("n_obs"),
              expr("CAST(w AS DECIMAL(38,0)) * tl div nullif(sl, 0)")
                .as("w"), col("tl"), col("tsrc"))
          val colSum = afterRow.groupBy(col("source"))
            .agg(sum(col("w")).as("ss"))
          val next = afterRow.join(broadcast(colSum), Seq("source"))
            .select(col("lang"), col("source"), col("n_obs"),
              expr("CAST(w AS DECIMAL(38,0)) * tsrc div nullif(ss, 0)")
                .as("w"), col("tl"), col("tsrc"))
          cur = Sources.checkpoint(next, graft.Scratch.dir(s, s"c16_round$r"))
        }
        val byLang = Window.partitionBy(col("lang"))
        cur
          .withColumn("lang_share_x1e12", sum(col("w")).over(byLang))
          .select(col("lang"), col("source"), col("n_obs"),
            col("w").as("w_x1e12"), col("lang_share_x1e12"))
          .orderBy("lang", "source")
      },
      Some {
        def half(k: Int, from: String, part: String, tgt: String): String =
          s"""r$k AS MATERIALIZED (
             |  SELECT lang, source, n_obs,
             |    CAST(CAST(w AS HUGEINT) * $tgt // nullif(sm, 0) AS BIGINT)
             |      AS w, tl, tsrc
             |  FROM (SELECT *, CAST(sum(w) OVER (PARTITION BY $part)
             |      AS BIGINT) AS sm FROM $from) x
             |)""".stripMargin
        s"""WITH obs AS (
           |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_obs
           |  FROM documents GROUP BY 1, 2
           |), tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS nn FROM obs),
           |dims AS (
           |  SELECT CAST(count(DISTINCT lang) AS BIGINT) AS nl,
           |    CAST(count(DISTINCT source) AS BIGINT) AS ns
           |  FROM obs
           |), w0 AS MATERIALIZED (
           |  SELECT lang, source, n_obs,
           |    CAST(CAST(n_obs AS HUGEINT) * 1000000000000 // nn AS BIGINT)
           |      AS w,
           |    CAST(1000000000000 // nl AS BIGINT) AS tl,
           |    CAST(1000000000000 // ns AS BIGINT) AS tsrc
           |  FROM obs CROSS JOIN tot CROSS JOIN dims
           |),
           |${half(1, "w0", "lang", "tl")},
           |${half(2, "r1", "source", "tsrc")},
           |${half(3, "r2", "lang", "tl")},
           |${half(4, "r3", "source", "tsrc")},
           |${half(5, "r4", "lang", "tl")},
           |${half(6, "r5", "source", "tsrc")}
           |SELECT lang, source, n_obs, w AS w_x1e12,
           |  CAST(sum(w) OVER (PARTITION BY lang) AS BIGINT)
           |    AS lang_share_x1e12
           |FROM r6 ORDER BY lang, source""".stripMargin
      }),

    // C17: dup-cluster survivor selection by QUALITY — d6 applies
    // keep-min-id, the bookkeeping default; a real corpus keeps the
    // BEST copy of each near-dup cluster (the longest / highest-quality
    // rendition — boilerplate-stripped mirrors are usually shorter).
    // Clusters are d7's LSH connected components verbatim; the survivor
    // is the exact argmax of (n_chars, then min doc_id as tie-break),
    // computed as ONE max-of-struct partial-combining aggregate per
    // cluster — no window, no per-cluster sort. The emitted ledger
    // (survivor + member count + characters dropped) is what a curation
    // run reports per cluster. Scale shape: d7's iterative min-label
    // propagation (checkpointed rounds), then one broadcast-able join
    // onto documents and one groupBy(comp).
    Q("c17_survivor_quality",
      (s, d) => {
        dupComponents(s, d, "c17")
          .join(documents(s, d)
            .select(col("doc_id"), col("n_chars").cast("long").as("nc")),
            Seq("doc_id"))
          .groupBy(col("comp"))
          .agg(count(lit(1)).as("n_members"),
            sum(col("nc")).as("total_chars"),
            max(struct(col("nc"), (-col("doc_id")).as("neg_id")))
              .as("best"))
          .select(col("comp"), (-col("best.neg_id")).as("survivor_id"),
            col("n_members"), col("best.nc").as("survivor_chars"),
            (col("total_chars") - col("best.nc")).as("chars_dropped"))
          .orderBy("comp")
      },
      Some(s"""WITH RECURSIVE $sqlTok, $sqlSig, $sqlDupComps, m AS (
              |  SELECT c.comp, dd.doc_id, CAST(dd.n_chars AS BIGINT) AS nc,
              |    row_number() OVER (PARTITION BY c.comp
              |      ORDER BY dd.n_chars DESC, dd.doc_id) AS rn
              |  FROM comp c JOIN documents dd ON c.doc_id = dd.doc_id
              |), agg AS (
              |  SELECT comp, CAST(count(*) AS BIGINT) AS n_members,
              |    CAST(sum(nc) AS BIGINT) AS total_chars
              |  FROM m GROUP BY comp
              |)
              |SELECT m.comp, m.doc_id AS survivor_id, a.n_members,
              |  m.nc AS survivor_chars,
              |  a.total_chars - m.nc AS chars_dropped
              |FROM m JOIN agg a USING (comp) WHERE m.rn = 1
              |ORDER BY comp""".stripMargin)),

    // C18: distribution drift between time halves — the serving-vs-
    // training drift check a mixture pipeline (c4/c13/c16) runs before
    // trusting its sampling weights: split the feed at c10's integer-
    // nanos midpoint and compare the category distribution of the two
    // halves. The headline number is the exact TOTAL VARIATION DISTANCE
    // (TVD = ½ Σ|p_i − q_i|), the drift metric with no logarithms —
    // PSI/KL need ln() and cannot be stated exactly across engines.
    // Per-category shares and gaps are cross-multiplied exact integers
    // in DECIMAL(38,0) vs HUGEINT (|n1·t2 − n2·t1| ≤ t1·t2 ≤ 1e26;
    // HeadroomAudit carries the bound) with truncating x1e6 divisions;
    // the '~total' row carries TVD as (Σ per-category gaps) div 2 — the
    // per-category truncation points are the statistic's definition.
    // Scale shape: one min/max scan for the cutoff, ONE fact scan into
    // a per-category conditional aggregate (categories ≤ dozens)
    // MATERIALIZED to scratch (the a35/d5 discipline — totals, the
    // per-category rows, and the '~total' union all consume it, and
    // lazy lineage would re-run the fact aggregate once per consumer;
    // PlanSpec pins the zero-fact-scan consumer plan), then scalar
    // algebra on the tiny frame.
    Q("c18_distribution_drift",
      (s, d) => {
        val ev = events(s, d).select(col("event_type"), col("ts"))
        val cut = ev.agg(expr("(min(ts) + max(ts)) div 2").as("cut"))
        val dir = graft.Scratch.dir(s, "c18_cat")
        val cat = Sources.checkpoint(ev.crossJoin(broadcast(cut))
          .groupBy(col("event_type"))
          .agg(sum((col("ts") < col("cut")).cast("long")).as("n1"),
            sum((col("ts") >= col("cut")).cast("long")).as("n2")), dir)
        val tot = cat.agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
        val per = cat.crossJoin(broadcast(tot))
          .select(col("event_type"), col("n1"), col("n2"),
            expr("CAST(n1 AS DECIMAL(38,0)) * 1000000 div nullif(t1, 0)")
              .as("share1_x1e6"),
            expr("CAST(n2 AS DECIMAL(38,0)) * 1000000 div nullif(t2, 0)")
              .as("share2_x1e6"),
            expr("""abs(CAST(n1 AS DECIMAL(38,0)) * t2
                   |  - CAST(n2 AS DECIMAL(38,0)) * t1) * 1000000
                   |  div nullif(CAST(t1 AS DECIMAL(38,0)) * t2, 0)"""
              .stripMargin).as("gap_x1e6"))
        val total = per.agg(sum(col("n1")).as("n1"), sum(col("n2")).as("n2"),
            sum(col("share1_x1e6")).as("share1_x1e6"),
            sum(col("share2_x1e6")).as("share2_x1e6"),
            expr("sum(gap_x1e6) div 2").as("gap_x1e6"))
          .select(lit("~total").as("event_type"), col("n1"), col("n2"),
            col("share1_x1e6"), col("share2_x1e6"), col("gap_x1e6"))
        per.unionByName(total).orderBy("event_type")
      },
      Some("""WITH ev AS (
             |  SELECT event_type, epoch_ns(ts) AS tns FROM events
             |), c AS (
             |  SELECT (min(tns) + max(tns)) // 2 AS cut FROM ev
             |), cat AS (
             |  SELECT event_type,
             |    CAST(sum(CAST(tns < cut AS BIGINT)) AS BIGINT) AS n1,
             |    CAST(sum(CAST(tns >= cut AS BIGINT)) AS BIGINT) AS n2
             |  FROM ev CROSS JOIN c GROUP BY event_type
             |), tot AS (
             |  SELECT CAST(sum(n1) AS BIGINT) AS t1,
             |    CAST(sum(n2) AS BIGINT) AS t2
             |  FROM cat
             |), per AS (
             |  SELECT event_type, n1, n2,
             |    CAST(CAST(n1 AS HUGEINT) * 1000000 // nullif(t1, 0)
             |      AS BIGINT) AS share1_x1e6,
             |    CAST(CAST(n2 AS HUGEINT) * 1000000 // nullif(t2, 0)
             |      AS BIGINT) AS share2_x1e6,
             |    CAST(abs(CAST(n1 AS HUGEINT) * t2
             |        - CAST(n2 AS HUGEINT) * t1) * 1000000
             |      // nullif(CAST(t1 AS HUGEINT) * t2, 0) AS BIGINT)
             |      AS gap_x1e6
             |  FROM cat CROSS JOIN tot
             |)
             |SELECT * FROM per
             |UNION ALL
             |SELECT '~total', CAST(sum(n1) AS BIGINT),
             |  CAST(sum(n2) AS BIGINT),
             |  CAST(sum(share1_x1e6) AS BIGINT),
             |  CAST(sum(share2_x1e6) AS BIGINT),
             |  CAST(sum(gap_x1e6) // 2 AS BIGINT)
             |FROM per
             |ORDER BY event_type""".stripMargin)),

    // C19: dedup report — the cluster-size histogram + corpus dedup rate
    // a curation run prints before anyone trusts d6's applied output
    // (what fraction of the corpus is exact-duplicate mass, and is it a
    // few giant clusters or a long tail of pairs — the two have opposite
    // remediations: giant clusters are boilerplate/templates to excise,
    // a pair tail is ordinary recrawl overlap). One map-side md5 groupBy
    // (d1's shuffle shape: the exchange carries (hash) pairs, never
    // text), a histogram over cluster sizes (domain bounded by the
    // LARGEST cluster — thousands at worst, so the frame is tiny), and a
    // 1-row totals frame broadcast back for the rate. All-integer:
    // products bounded by n_docs (<= 1e13 at 100 TB) x 1e4 < int64.
    Q("c19_dedup_report",
      (s, d) => {
        // the histogram frame feeds the totals aggregate AND the output
        // projection — cut (a28's discipline), or the second reference
        // re-plans the corpus md5 pass (caught by RegistryAuditSpec at
        // registration: documents=2 uncut)
        val hist = graft.Scratch.cut(s, s"c19_hist_${graft.Scratch.key(d)}")(
          documents(s, d)
            .groupBy(md5(col("text")).as("h"))
            .agg(count(lit(1)).as("n_copies"))
            .groupBy(col("n_copies"))
            .agg(count(lit(1)).as("n_clusters"))
            // coalesce(1): domain bounded by the largest cluster size
            .coalesce(1))
        val tot = hist.agg(
          sum(col("n_copies") * col("n_clusters")).as("n_docs"),
          sum(col("n_clusters")).as("n_survivors"))
        hist.crossJoin(broadcast(tot))
          .select(col("n_copies"), col("n_clusters"),
            (col("n_copies") * col("n_clusters")).as("n_docs_in_bin"),
            ((col("n_copies") - 1) * col("n_clusters"))
              .as("n_removed_in_bin"),
            col("n_docs"), col("n_survivors"),
            expr("(n_docs - n_survivors) * 10000 div n_docs")
              .as("dedup_rate_x1e4"))
          .orderBy("n_copies")
      },
      Some("""WITH sizes AS (
             |  SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS n_copies
             |  FROM documents GROUP BY 1
             |), hist AS (
             |  SELECT n_copies, CAST(count(*) AS BIGINT) AS n_clusters
             |  FROM sizes GROUP BY 1
             |), tot AS (
             |  SELECT CAST(sum(n_copies * n_clusters) AS BIGINT) AS n_docs,
             |    CAST(sum(n_clusters) AS BIGINT) AS n_survivors
             |  FROM hist
             |)
             |SELECT n_copies, n_clusters,
             |  n_copies * n_clusters AS n_docs_in_bin,
             |  (n_copies - 1) * n_clusters AS n_removed_in_bin,
             |  n_docs, n_survivors,
             |  (n_docs - n_survivors) * 10000 // n_docs AS dedup_rate_x1e4
             |FROM hist CROSS JOIN tot ORDER BY n_copies""".stripMargin))
  )

}
