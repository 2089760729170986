package graft.queries

import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Artifact, Q, Tables}

/** Source/sink operators as registered round-trip queries (SURVEY.md §2.1
  * S2/S5/S6/S7, §2.6 O7) plus the small §2 rows that need their own
  * registered entry (P9 expr(), J6 keyed concat, A9 map-HOF argmax).
  *
  * Round-trip shape: write to the configured scratch dir (graft.Scratch),
  * read back,
  * reduce to an aggregate that the oracle computes from the ORIGINAL table —
  * so a lossy sink (dropped rows, mangled types) fails the hash compare.
  * S4 (SQLite) has no JDBC driver in this offline build; its contract is the
  * parquet-converted table documented in graft.sources.Sources.
  */
object IoQueries {
  import Tables._

  private def tmp(s: org.apache.spark.sql.SparkSession, name: String) =
    graft.Scratch.dir(s, name)

  /** Bucketed tables are LAYOUT, not query work: written once per corpus
    * snapshot, then every join on the key is exchange-free — an
    * [[Artifact]] like the ALS model and the IVF index. The table
    * names carry the sf-dir hash so two corpora in one session never
    * collide, AND the owning pid (VERDICT r15 #1 / r16 #1): the catalog is
    * per-JVM but the `spark.sql.warehouse.dir` DIRECTORY is shared, and
    * Bucketing.writeBucketed pre-deletes its target's stale directory — so
    * two concurrent JVMs on the same sf dir used to delete each other's
    * live table mid-read (the only red a driver gate has produced). The
    * pid suffix gives each JVM its own managed location, the same
    * discipline Scratch applies to /tmp roots; writeBucketed reaps
    * dead-pid leftovers so repeated runs can't accumulate.
    */
  private val bucketTables = Artifact("_bucket_write") { (s, d) =>
    val suffix = (d.hashCode.toLong & 0xffffffffL).toString +
      "_p" + ProcessHandle.current().pid()
    val (lt, ot) = (s"q_b_lineitem_$suffix", s"q_b_orders_$suffix")
    graft.operators.Bucketing.writeBucketed(
      lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice")),
      lt, "l_orderkey", 8)
    graft.operators.Bucketing.writeBucketed(
      orders(s, d).select(col("o_orderkey").as("l_orderkey"),
        col("o_orderpriority")),
      ot, "l_orderkey", 8)
    (lt, ot)
  }

  def prepareBuckets(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    bucketTables.get(s, d); ()
  }

  def clearCaches(): Unit = bucketTables.reset()

  val all: Seq[Q] = Seq(

    // S2: parquet sink (overwrite) + S1 re-scan. The sink is the
    // reference's persist of the indexed train set (sample_indexer.py:51).
    Q("s2_parquet_roundtrip",
      (s, d) => {
        Sources.checkpoint(
            orders(s, d).filter(col("o_totalprice") > 100000.0),
            tmp(s, "s2_orders"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sv"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS sv
             |FROM orders WHERE o_totalprice > 100000.0
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // S5+S6: headerless CSV sink then source with positional schema — the
    // EDA factor-matrix CSV contract (EDA cells 23, 90). Schema is assigned
    // by position on read, exactly like the reference's pandas `names=`.
    Q("s5_csv_roundtrip",
      (s, d) => {
        val out = tmp(s, "s5_customer")
        customer(s, d).select("c_custkey", "c_mktsegment", "c_nationkey")
          .write.mode("overwrite").option("header", "false").csv(out)
        val schema = StructType(Seq(
          StructField("ck", LongType), StructField("seg", StringType),
          StructField("nk", LongType)))
        graft.sources.Sources.csv(s, out, schema)
          .groupBy(col("seg"))
          .agg(count(lit(1)).as("n"), sum(col("nk")).as("sum_nk"))
          .orderBy("seg")
      },
      // DuckDB sum(BIGINT) returns HUGEINT (-> float64 in the comparator's
      // pandas frame); cast back to BIGINT to match Spark's long sum
      Some("""SELECT c_mktsegment AS seg, count(*) AS n,
             |  CAST(sum(c_nationkey) AS BIGINT) AS sum_nk
             |FROM customer GROUP BY c_mktsegment ORDER BY seg""".stripMargin)),

    // S7: parquet -> single-file CSV reformat (EDA cells 11-21 did this as
    // a driver-side per-part-file pandas loop; here it is one coalesce(1)
    // write — the scale caveat being that coalesce(1) serializes the final
    // stage, acceptable only for export-sized data).
    Q("s7_reformat",
      (s, d) => {
        val out = tmp(s, "s7_nation")
        graft.sources.Sources.writeSingleCsv(nation(s, d), out)
        s.read.option("header", "true").option("inferSchema", "true").csv(out)
          .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
          .orderBy("nk")
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS nk, n_name
             |FROM nation ORDER BY nk""".stripMargin)),

    // S8: JSON lines sink + schema-inferred source — the interchange format
    // every labeling/annotation stage in a training-data pipeline speaks.
    // Round-trip shape like s2/s5: the read-back aggregate must match the
    // oracle computed from the ORIGINAL table, so lossy writes fail.
    Q("s8_json_roundtrip",
      (s, d) => {
        val out = tmp(s, "s8_part")
        part(s, d).select("p_partkey", "p_brand", "p_retailprice")
          .write.mode("overwrite").json(out)
        s.read.json(out)
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"), round(sum(col("p_retailprice")), 2).as("rp"))
          .orderBy("p_brand")
      },
      Some("""SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 2) AS rp
             |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // S9: ORC sink + source — the other columnar format large Hadoop-era
    // estates still carry; same round-trip contract as s2's parquet.
    Q("s9_orc_roundtrip",
      (s, d) => {
        val out = tmp(s, "s9_supplier")
        supplier(s, d).select("s_suppkey", "s_nationkey")
          .write.mode("overwrite").orc(out)
        s.read.orc(out)
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n"), sum(col("s_suppkey")).as("sk"))
          .orderBy("s_nationkey")
      },
      // CAST: DuckDB sum(BIGINT) is HUGEINT -> float64 in the comparator
      Some("""SELECT s_nationkey, count(*) AS n, CAST(sum(s_suppkey) AS BIGINT) AS sk
             |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // O7: repartition-by-key then write — the reference computed this and
    // DISCARDED it (sample_indexer.py:50, a no-op bug; SURVEY §7.3). Here
    // the repartitioned frame IS what's written; PartitioningSpec asserts
    // the file layout. The read-back aggregate proves no rows were lost.
    Q("o7_repartition_write",
      (s, d) => {
        Sources.checkpoint(events(s, d).repartition(8, col("user_id")),
            tmp(s, "o7_events"))
          .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n FROM events
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // S10: parquet schema evolution — a 100 TB table is written over months
    // and columns get added; old files must stay readable. Two disjoint key
    // ranges are written with different schemas into one dataset dir, read
    // back with mergeSchema: the union schema applies and pre-evolution
    // rows surface the new column as null (the oracle states the same CASE).
    Q("s10_schema_evolution",
      (s, d) => {
        val out = tmp(s, "s10_nation")
        val v1 = nation(s, d).filter(col("n_nationkey") < 12)
          .select("n_nationkey", "n_name")
        val v2 = nation(s, d).filter(col("n_nationkey") >= 12)
          .select("n_nationkey", "n_name", "n_regionkey")
        v1.write.mode("overwrite").parquet(out)
        v2.write.mode("append").parquet(out)
        s.read.option("mergeSchema", "true").parquet(out)
          .select("n_nationkey", "n_name", "n_regionkey")
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name,
             |  CASE WHEN n_nationkey >= 12 THEN n_regionkey ELSE NULL END
             |    AS n_regionkey
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // O9: hive-style partitioned write + partition-pruned read — THE layout
    // decision at 100 TB: a predicate on the partition column turns into
    // directory pruning (PartitionFilters in the scan, PlanSpec-pinned),
    // so the 'click' aggregate below reads only events/event_type=click/
    // files, never the other partitions. The read-back aggregate must match
    // the oracle over the ORIGINAL table, so a lossy write fails.
    Q("o9_partitioned_write",
      (s, d) => {
        val out = tmp(s, "o9_events")
        events(s, d).select("event_id", "user_id", "event_type", "value")
          .write.mode("overwrite").partitionBy("event_type").parquet(out)
        Sources.parquet(s, out)
          .filter(col("event_type") === "click")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n, round(sum(value), 2) AS sv
             |FROM events WHERE event_type = 'click'
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // O11: small-file compaction (operators/Compaction — the OPTIMIZE-style
    // table maintenance a 100 TB estate runs continuously: scan task count
    // and namenode load are driven by file COUNT, not bytes). A 64-file
    // directory is planted, compacted to ~target-size files with a
    // locality-restoring sort, and the single output row carries its own
    // evidence: file counts are engine-specific (no oracle) but
    // files_reduced and rows_equal must both be 1 — a 0 means the rewrite
    // dropped data or never compacted.
    Q("o11_compaction",
      (s, d) => {
        val src = tmp(s, "o11_small")
        val dst = tmp(s, "o11_compact")
        val small = Sources.checkpoint(
          events(s, d).select("event_id", "user_id", "event_type", "value")
            .repartition(64), src)
        val before = graft.operators.Compaction.dataFiles(s, src)
        val after = graft.operators.Compaction.compactParquet(
          s, src, dst, targetFileBytes = 512L * 1024 * 1024,
          sortCols = Seq(col("user_id")))
        val rowsBefore = small.count()
        val rowsAfter = Sources.parquet(s, dst).count()
        val spark = s
        import spark.implicits._
        Seq((before, after, rowsBefore, rowsAfter,
            (if (after < before) 1L else 0L),
            (if (rowsBefore == rowsAfter) 1L else 0L)))
          .toDF("files_before", "files_after", "rows_before", "rows_after",
            "files_reduced", "rows_equal")
      },
      None),

    // S4: the SQLite-metadata entry point under the offline contract — the
    // SQLite table is converted to parquet once, then scanned like any
    // relation (the EDA `SELECT * FROM songs` analog). The JDBC path for
    // live SQLite is graft.sources.Sources.sqlite (needs a driver jar).
    Q("s4_sqlite_contract",
      (s, d) => supplier(s, d)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
        .orderBy("s_suppkey"),
      Some("""SELECT s_suppkey, s_name, s_nationkey FROM supplier
             |ORDER BY s_suppkey""".stripMargin)),

    // P5: column drop — projection by exclusion (the reference drops
    // __index_level_0__ / Unnamed: 0 pandas residue, EDA cells 46, 100).
    Q("p5_column_drop",
      (s, d) => events(s, d).drop("props", "ts")
        .orderBy("event_id"),
      Some("""SELECT event_id, user_id, event_type, value FROM events
             |ORDER BY event_id""".stripMargin)),

    // Bucketed co-located fact-fact join: both sides written bucketed on
    // the join key (one shuffle, paid ONCE per corpus snapshot — see
    // bucketTables), then joined with NO exchange on either side
    // (BucketingSpec pins the plan). At 100 TB this turns the recurring
    // lineitem⨝orders shuffle into a bucket-local read.
    Q("b1_bucketed_join",
      (s, d) => {
        val (lt, ot) = bucketTables.get(s, d)
        graft.operators.Bucketing
          .colocatedJoin(s, lt, ot, "l_orderkey")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("sv"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  round(sum(l_extendedprice), 2) AS sv
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      needs = Seq(bucketTables)),

    // P9: the expr()/selectExpr SQL-text entry point (learning_curve.py:65
    // is `expr('collect_list(track_idx) as tracks')`) — the whole query is
    // built from SQL strings and still resolves to the same Catalyst plan
    // a Column-DSL build would.
    Q("p9_expr_entry",
      (s, d) => events(s, d)
        .selectExpr("event_type", "user_id", "value")
        .where(expr("value >= 1.0"))
        .groupBy(expr("event_type"))
        .agg(expr("count(1) AS n"), expr("round(sum(value), 2) AS sv"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n, round(sum(value), 2) AS sv
             |FROM events WHERE value >= 1.0
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // J6: keyed replacement of positional concat. The reference glues a
    // computed column back by ROW POSITION (pd.concat(axis=1), EDA cells
    // 102-104) — undefined in a distributed engine. The rebuild keeps the
    // key through both branches and joins on it.
    Q("j6_keyed_concat",
      (s, d) => {
        val left = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
        val right = orders(s, d).select(col("o_orderkey"),
          upper(col("o_orderstatus")).as("status_u"))
        left.join(right, Seq("o_orderkey"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice, upper(o_orderstatus) AS status_u
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // O8: stratified (per-stratum Bernoulli) sampling — training-data
    // curation keeps classes balanced by sampling each stratum at its own
    // rate; map-side filter, no shuffle. Seeded but engine-specific →
    // rows-only, like o5 — and like o5 self-evidencing (VERDICT r4 #8):
    // each stratum row carries its rate, its population count, and an
    // in_bounds flag (n within ±6σ binomial bounds of rate·N; for the
    // rate-1.0 strata σ=0, so the flag degenerates to the exact cap
    // n = pop_n).
    Q("o8_stratified_sample",
      (s, d) => {
        val rates = Map("click" -> 0.1, "view" -> 0.5, "purchase" -> 1.0,
          "error" -> 1.0, "signup" -> 0.25)
        val ev = events(s, d)
        val sampled = ev.stat.sampleBy("event_type", rates, 42L)
          .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        val pop = ev.groupBy(col("event_type")).agg(count(lit(1)).as("pop_n"))
        val rate = element_at(typedLit(rates), col("event_type"))
        // fail CLOSED (see o5): population base + left join, so a stratum
        // the sampler lost entirely still shows n=0 / in_bounds=0.
        // rate_x100 rounds — a bare cast truncates 0.29*100=28.999... to 28
        pop.join(sampled, Seq("event_type"), "left")
          .select(col("event_type"), coalesce(col("n"), lit(0L)).as("n"),
            round(rate * 100).cast("long").as("rate_x100"), col("pop_n"),
            (abs(coalesce(col("n"), lit(0L)) - col("pop_n") * rate)
              <= lit(6.0) * sqrt(col("pop_n") * rate * (lit(1.0) - rate)))
              .cast("long").as("in_bounds"))
          .orderBy("event_type")
      },
      None),

    // T5: sketch aggregates — HLL distinct and quantile sketches are how
    // cardinality/distribution questions get answered at 100 TB (exact
    // distinct of a high-cardinality key is itself a full shuffle).
    // Sketch internals are engine-specific → rows-only; the EXACT analogs
    // are oracled elsewhere (a2_distinct, a7_summary_stats).
    Q("t5_approx_sketches",
      (s, d) => events(s, d).agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        round(element_at(percentile_approx(col("value"), array(lit(0.5), lit(0.95)),
          lit(10000)), 1), 2).as("p50"),
        round(element_at(percentile_approx(col("value"), array(lit(0.5), lit(0.95)),
          lit(10000)), 2), 2).as("p95")),
      None),

    // A9 (map-HOF form): argmax over MAP VALUES with ties kept — the
    // reference's select_genre (EDA cell 96) done with map_from_entries /
    // map_values / map_filter higher-order functions instead of a window.
    // Prices scaled to cent-integers so max-equality is exact.
    Q("a9_argmax_map",
      (s, d) => {
        val m = map_from_entries(sort_array(collect_list(struct(
          col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("p")))))
        orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(m.as("m"))
          // max hoisted out of the lambda: HOF lambdas have no CSE, so the
          // inline form recomputes array_max per map entry (O(n^2) per row)
          .withColumn("mx", array_max(map_values(col("m"))))
          .select(col("o_custkey"),
            array_join(sort_array(map_keys(
              map_filter(col("m"), (_, v) => v === col("mx"))))
              .cast("array<string>"), ",").as("argmax_keys"))
          .orderBy("o_custkey")
      },
      Some("""WITH m AS (
             |  SELECT o_custkey, o_orderkey,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS p
             |  FROM orders
             |), mx AS (
             |  SELECT o_custkey, max(p) AS mp FROM m GROUP BY o_custkey
             |)
             |SELECT m.o_custkey,
             |  array_to_string(list(m.o_orderkey ORDER BY m.o_orderkey), ',') AS argmax_keys
             |FROM m JOIN mx ON m.o_custkey = mx.o_custkey AND m.p = mx.mp
             |GROUP BY m.o_custkey ORDER BY m.o_custkey""".stripMargin)),

    // S11: corrupt-record-tolerant semi-structured ingest — what a real
    // feed does that the clean p10 path doesn't model: some payloads are
    // truncated/garbled, and the pipeline must COUNT and QUARANTINE
    // them, not crash or silently drop. Corruption is planted
    // deterministically (every 10th record loses its closing brace) so
    // the same rows are corrupt in both engines. Spark's from_json is
    // PERMISSIVE by design here — a malformed document yields NULL, the
    // per-row quarantine flag; DuckDB guards with json_valid (its
    // json_extract THROWS on malformed input — fail-closed engines need
    // the explicit guard; the premise "every valid payload has k" is the
    // generator contract p10 already rests on). Map-side flagging, one
    // partial-combining rollup; the quarantined count is the operator's
    // monitoring contract.
    Q("s11_corrupt_json",
      (s, d) => events(s, d)
        .select(col("event_type"),
          when(col("event_id") % 10 === 0,
            expr("substring(props, 1, length(props) - 1)"))
            .otherwise(col("props")).as("payload"))
        .select(col("event_type"),
          from_json(col("payload"), "k LONG", Map.empty[String, String])
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_total"),
          count(col("k")).as("n_valid"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_quarantined"),
          sum(col("k")).as("sum_k"))
        .orderBy("event_type"),
      Some("""WITH p AS (
             |  SELECT event_type,
             |    CASE WHEN event_id % 10 = 0
             |      THEN substring(props, 1, length(props) - 1)
             |      ELSE props END AS payload
             |  FROM events
             |), x AS (
             |  SELECT event_type,
             |    CASE WHEN json_valid(payload)
             |      THEN json_extract(payload, '$.k')::BIGINT END AS k
             |  FROM p
             |)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
             |  CAST(count(k) AS BIGINT) AS n_valid,
             |  CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_quarantined,
             |  CAST(sum(k) AS BIGINT) AS sum_k
             |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // S12: malformed-row CSV quarantine — s11's monitoring contract for
    // the OTHER ingest format a production feed actually breaks: a REAL
    // file round-trip (planted corruption written as raw text lines,
    // read back through the CSV parser in PERMISSIVE mode with a
    // _corrupt_record column), not an in-memory simulation. Every
    // doc_id % 13 == 4 row gets a non-numeric n_chars; the parser must
    // null the malformed field, keep the parseable ones, and stamp the
    // corrupt-record column — per-source totals/valid/quarantined/sum
    // come out exactly derivable from the plant rule, so the oracle
    // never parses CSV at all. Scale: the plant+write is one map-side
    // pass, the read is a plain distributed CSV scan, the rollup one
    // partial-combining aggregate.
    Q("s12_csv_quarantine",
      (s, d) => {
        val out = graft.Scratch.dir(s, "s12_csv")
        documents(s, d).select(concat_ws(",",
            col("doc_id").cast("string"), col("source"),
            when(col("doc_id") % 13 === 4,
              concat(col("n_chars").cast("string"), lit("x")))
              .otherwise(col("n_chars").cast("string"))).as("value"))
          .write.mode("overwrite").text(out)
        s.read
          .schema("doc_id LONG, source STRING, n_chars LONG, _bad STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_bad")
          .csv(out)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_total"),
            count(col("n_chars")).as("n_valid"),
            sum(when(col("_bad").isNotNull, 1L).otherwise(0L))
              .as("n_quarantined"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("source")
      },
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_total,
             |  CAST(sum(CASE WHEN doc_id % 13 <> 4 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_valid,
             |  CAST(sum(CASE WHEN doc_id % 13 = 4 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_quarantined,
             |  CAST(sum(CASE WHEN doc_id % 13 <> 4 THEN n_chars END)
             |    AS BIGINT) AS sum_chars
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // S13: raw TEXT source/sink round-trip — the one line-oriented
    // format the s-family didn't cover (csv s5/s12, json s8/s11, orc
    // s9, parquet s2/s10): documents serialized one-per-line as
    // id<TAB>text via spark.write.text, read back with spark.read.text
    // (schema-less `value` lines — the shape every raw-corpus ingest
    // starts from), re-parsed by splitting on the delimiter. Line
    // integrity is the operator's contract, so tabs/newlines are
    // normalized to spaces BEFORE the write and the oracle applies the
    // IDENTICAL normalization to the source table — a lost or split
    // line changes n_docs/sum_id/sum_len and fails the hash. Scale:
    // text write/read streams partition-parallel like any other
    // source; the summary aggregate partial-combines.
    Q("s13_text_roundtrip",
      (s, d) => {
        val out = tmp(s, "s13_docs")
        documents(s, d)
          .select(concat_ws("\t", col("doc_id"),
            regexp_replace(col("text"), "[\\t\\n\\r]", " ")).as("value"))
          .write.mode("overwrite").text(out)
        s.read.text(out)
          .select(split(col("value"), "\t", 2).as("p"))
          .select(element_at(col("p"), 1).cast("long").as("doc_id"),
            element_at(col("p"), 2).as("text"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("sum_id"),
            sum(length(col("text")).cast("long")).as("sum_len"))
      },
      Some("""SELECT count(*) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS sum_id,
             |  CAST(sum(len(regexp_replace(text, '[\t\n\r]', ' ', 'g')))
             |    AS BIGINT) AS sum_len
             |FROM documents""".stripMargin))
  )
}
