package graft.audit

/** Float-decision audit for every oracled query (VERDICT r8 #2).
  *
  * The driver's correctness gate hash-compares Spark output against DuckDB
  * on a FRESH testdata regeneration each round, so any output bit that can
  * legally differ between two IEEE-754 engines is a latent red row — round 8
  * lost `a16_zscore_anomaly` to exactly that (a z-score landed inside the
  * engines' summation-order disagreement band on one regeneration and
  * flipped a `round(z,4) >= 2` flag). This registry classifies HOW each
  * float-involved oracle decision is pinned, so the claim "this hash cannot
  * flip on a hostile regeneration" is explicit, reviewed, and mechanically
  * enforced by DecisionAuditSpec:
  *
  *   - the scanner below flags every oracle SQL that touches float-risky
  *     surface (round / abs / sqrt / comparison against a decimal literal);
  *     every flagged query MUST have an entry here;
  *   - every entry pins the SQL fragments that carry its discipline — if a
  *     later edit silently drops e.g. a16's exact-ified `round(sum(value), 6)`
  *     inputs, the pin fails in the builder's own test loop, not in the
  *     driver's gate;
  *   - the GrainMargin class rests on one data premise — the base value
  *     columns are 2-dp-quantized — which DecisionAuditSpec re-verifies
  *     against the CURRENT testdata, so a regeneration that changes the
  *     grain fails loudly here first.
  *
  * Decision-path classes, by cross-engine divergence source:
  *
  *   - BitPinned: both engines compute bit-identical doubles, because every
  *     fp op runs in a pinned identical order on identical inputs — a
  *     sequential fold over an array (array order is data, not plan), a
  *     single correctly-rounded op chain over exact integers, or scalar
  *     arithmetic over exact-ified (pre-rounded) aggregates. Thresholding
  *     a bit-identical double cannot disagree. CAVEAT (round-9 a21
  *     finding): EMITTING round(x, k) of a bit-identical double is not
  *     quite as safe — the engines' round() implementations differ
  *     (BigDecimal-exact vs scaled multiply), and a value whose binary
  *     expansion sits within ulps of the decimal half-way point can round
  *     differently (~1e-9/row for generic reals; a21's first cut hit it
  *     once at sf0.1 because round(sum, 6) of on-grid sums is itself
  *     ulp-divergent and the CUSUM fold amplified it). Queries whose fold
  *     ARITHMETIC is exact-integer-expressible should take that route
  *     (a21's 100n scaling); the remaining BitPinned round() emits
  *     (w11/w13/e1-class) carry that documented residual, with their
  *     FLAGS still margin- or integer-decided.
  *   - GrainMargin(grain): the true (infinite-precision) value is quantized
  *     at a decimal grain, so it sits at distance >= grain/2 from every
  *     rounding boundary, while cross-engine divergence (summation order,
  *     algebraically-equal-but-different formulas) is bounded orders of
  *     magnitude below grain/2. Safe with margin, on any data satisfying
  *     the premise.
  *   - IntegerDecided: the threshold is computed in pure integer arithmetic
  *     (count/length/`div`) — no fp at all on the decision path.
  *
  * Rows-only queries (no oracle) make float decisions too — those are
  * covered by named specs instead of the driver hash; `rowsOnlyCovered`
  * maps each to its covering spec so the audit is total.
  */
object DecisionAudit {

  sealed trait Path {
    def note: String
    /** literal fragments that must appear in the query's oracle SQL — the
      * decision discipline's regression pin */
    def pins: Seq[String]
  }
  final case class BitPinned(note: String, pins: Seq[String] = Nil) extends Path
  final case class GrainMargin(grain: Double, note: String,
      pins: Seq[String] = Nil) extends Path
  final case class IntegerDecided(note: String, pins: Seq[String] = Nil)
      extends Path

  /** Why an oracle SQL is float-decision-suspect (empty = not suspect).
    * Mirrors the audit that produced `entries`; DecisionAuditSpec enforces
    * suspects ⊆ entries so new queries cannot skip classification.
    */
  def suspects(sql: String): Seq[String] = {
    val found = Seq.newBuilder[String]
    if (sql.contains("round(")) found += "round"
    if (sql.contains("abs(")) found += "abs"
    if (sql.contains("sqrt(")) found += "sqrt"
    if (Seq("ln(", "log(", "exp(", "pow(").exists(sql.contains))
      found += "transcendental"
    if ("(>=|<=|<|>)\\s*-?\\d+\\.\\d".r.findFirstIn(sql).isDefined)
      found += "float-literal-cmp"
    found.result()
  }

  private val twoDpSum = GrainMargin(0.005,
    "round(sum(x), 2) over 2-dp-quantized inputs: the true sum sits exactly " +
      "on the 0.01 grid (distance 0.005 from every rounding boundary) while " +
      "cross-engine summation-order noise is < 1e-5 absolute even at sf0.1 " +
      "row counts — >= 2.5 orders of margin")

  private val centsExact = GrainMargin(0.5,
    "round(x * 100) of 2-dp-quantized values: the true product is an exact " +
      "integer (margin 0.5) vs representation noise < 1e-6")

  private val intRatio = BitPinned(
    "single correctly-rounded division of exact integers — identical IEEE " +
      "result in both engines, so the rounded output and any threshold on " +
      "it cannot disagree")

  private val arrayFold = BitPinned(
    "per-vector arithmetic folds the array sequentially in element order " +
      "in BOTH engines (graft DotProduct / aggregate() on the Spark side, " +
      "list_sum of an ordered comprehension in DuckDB) — array order is " +
      "data, not plan, so the doubles are bit-identical before round()")

  private val storedCmp = BitPinned(
    "comparison of a stored double column against a literal: both engines " +
      "read identical on-disk IEEE values, so the predicate agrees row-wise")

  private val storedPass = BitPinned(
    "stored double column passed through unmodified (no arithmetic on the " +
      "float path): both engines hash the identical on-disk IEEE bytes")

  val entries: Map[String, Path] = Map(
    // ---- exact-ified aggregate statistics (the a16 lesson applied) ----
    "a16_zscore_anomaly" -> BitPinned(
      "mu/sd/z derived from exact-ified per-user sums — round(sum,6) " +
        "absorbs summation-order noise, then -, *, /, sqrt are correctly " +
        "rounded on identical inputs, so |z| >= 2 decides identically on " +
        "any data",
      Seq("round(sum(value), 6)", "round(sum(value * value), 6)")),
    "a20_ab_welch" -> BitPinned(
      "Welch t from per-arm exact-ified (n, round(s1,6), round(s2,6)) " +
        "triples — a16's discipline on a two-sample statistic: identical " +
        "inputs -> correctly-rounded scalar chain -> bit-identical t, so " +
        "round(t*1e4) and |t| >= 1.96 decide identically on any data",
      Seq("round(sum(value), 6)", "round(sum(value * value), 6)")),
    "a10_rmse" -> BitPinned(
      "rmse from exact-ified group sums (round(ssq,4), round(sv,2), n): " +
        "identical inputs -> identical scalar op chain in both engines",
      Seq("round(sum(value*value), 4)", "round(sum(value), 2)")),
    "a7_summary_stats" -> BitPinned(
      "mean/std from exact-ified sums, min/max of 2-dp values exact on " +
        "the grid — same discipline as a10",
      Seq("round(sum(value), 2)", "round(sum(value*value), 4)")),

    "a22_gini" -> GrainMargin(0.5,
      centsExact.note + "; rank, rank-sum S1, and the scaled Gini " +
        "(2*S1 - (n+1)*S0) * 10000 div (n*S0) are exact longs — the " +
        "only fp op is the per-order cents conversion",
      Seq("round(o.o_totalprice * 100)",
        "(2 * s1 - (n + 1) * s0) * 10000 // (n * s0)")),
    "b2_tpch_q5" -> GrainMargin(0.5,
      "the two per-row cents/percent conversions are the only fp ops " +
        "(0.5 margin each on 2-dp-grain data); revenue accumulates the " +
        "exact integer cents x (100 - pct) products in DECIMAL(38,0) " +
        "vs HUGEINT — j3's round(sum) float variant, exactified",
      Seq("round(l_extendedprice * 100)", "round(l_discount * 100)")),
    "a32_two_proportion" -> IntegerDecided(
      "user counts and purchase flags are exact longs; the pooled z² " +
        "decision is rational in counts, divided through by (n1·n2)²·N " +
        "so both truncating quotients stay inside int64 at any scale or " +
        "split imbalance — abs() runs on exact integers only, no fp " +
        "anywhere",
      Seq("38416", "// (CAST(n1 AS HUGEINT) * n2 * (n1 + n2))")),
    "b4_tpch_q1" -> GrainMargin(0.5,
      "b2's discipline on the scan face: the per-row qty/cents/pct/tax " +
        "conversions are the only fp ops (0.5 margin each on integral-" +
        "quantity, 2-dp-grain data); all eight aggregates accumulate " +
        "exact integers in DECIMAL(38,0) vs HUGEINT and the three " +
        "averages are truncating integer divides of those exact sums — " +
        "no float forms anywhere past the grain",
      Seq("round(l_quantity)", "round(l_extendedprice * 100)",
        "round(l_discount * 100)", "round(l_tax * 100)")),
    "b5_tpch_q18" -> GrainMargin(0.5,
      "per-row qty/cents conversions are the only fp ops (0.5 margin on " +
        "integral-quantity, 2-dp-grain data); the > 300 HAVING decision " +
        "and the top-100 order run on exact longs with o_orderkey as the " +
        "unique tie-break, o_orderdate emits as an exact epoch-day long",
      Seq("round(l_quantity)", "round(o_totalprice * 100)",
        "ORDER BY price_x100 DESC, o_orderkey")),
    "b6_tpch_q6" -> GrainMargin(0.5,
      "b2's discipline on the pure scan face: the two per-row cents/" +
        "percent conversions are the only fp ops (0.5 margin each on " +
        "2-dp-grain data); the discount band is the exact integer " +
        "pct BETWEEN 4 AND 6 (never a float-literal compare) and the " +
        "single accumulator holds exact cents·pct products in " +
        "DECIMAL(38,0) vs HUGEINT",
      Seq("round(l_extendedprice * 100)",
        "CAST(round(l_discount * 100) AS BIGINT) BETWEEN 4 AND 6")),
    "b7_tpch_q14" -> GrainMargin(0.5,
      "b2's discipline plus an exact ratio emit: per-row cents/percent " +
        "conversions are the only fp ops (0.5 margin each); promo and " +
        "total revenue accumulate exact integers and the percentage is " +
        "the cross-multiplied truncating quotient promo·1e8 div total — " +
        "no float division",
      Seq("round(l_extendedprice * 100)", "* 100000000")),
    "b8_tpch_q10" -> GrainMargin(0.5,
      "b2's discipline verbatim on the returned-items join: per-row " +
        "cents/percent conversions are the only fp ops (0.5 margin " +
        "each); revenue accumulates exact integer cents x (100 - pct) " +
        "and the top-20 orders exact longs with c_custkey as the unique " +
        "tie-break",
      Seq("round(l_extendedprice * 100)",
        "ORDER BY revenue_x1e4 DESC, c_custkey LIMIT 20")),
    "b9_tpch_q17" -> GrainMargin(0.5,
      "b2's discipline on the correlated-subquery face: the per-row " +
        "qty/cents conversions are the only fp ops (0.5 margin each on " +
        "integral-quantity, 2-dp-grain data); the 0.2·avg threshold is " +
        "the exact integer cross-multiplication qty·5·cnt < sum_qty — " +
        "no float division on the decision path — and avg_yearly emits " +
        "as the truncating integer quotient div 7 of exact cents",
      Seq("round(l_quantity)", "qty * 5 * cnt < sum_qty")),
    "b10_tpch_q19" -> GrainMargin(0.5,
      "b2's discipline on the disjunctive face: per-row cents/percent " +
        "conversions are the only fp ops (0.5 margin each on 2-dp-grain " +
        "data); the brand/size/quantity band predicates compare raw " +
        "integral-grain columns against integer literals (0.5 margin — " +
        "the b6 pushdown rule), and revenue accumulates exact integers",
      Seq("round(l_extendedprice * 100)", "l_quantity BETWEEN 1 AND 11")),
    "b11_tpch_q15" -> GrainMargin(0.5,
      "b2's discipline plus an exact-integer max selection: per-row " +
        "cents/percent conversions are the only fp ops (0.5 margin " +
        "each); the winner equality compares exact longs, so a tie is a " +
        "genuine tie (Q15 returns all of them) and s_suppkey totals the " +
        "order",
      Seq("round(l_extendedprice * 100)",
        "WHERE total_rev_x1e4 = (SELECT max(total_rev_x1e4) FROM rev)")),
    "b12_tpch_q22" -> GrainMargin(0.5,
      "balances are 2-dp-quantized, so round(c_acctbal*100) has 0.5 " +
        "margin; the average-threshold decision is the exact integer " +
        "cross-multiplication bal_c·n_pos > sum_pos (strict >, no float " +
        "division), the anti-join is set membership, and the emitted " +
        "totals are exact integer sums",
      Seq("round(c_acctbal * 100)", "CAST(bal_c AS HUGEINT) * np > sp")),
    "w20_ohlc_candles" -> GrainMargin(0.5,
      "per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain values); open/close are selected under the exact " +
        "TOTAL order (ts, event_id) — min_by/max_by with a unique " +
        "integer key on the Spark side, the packed HUGEINT key " +
        "epoch_ns·1e9 + event_id in DuckDB — so ties on ts cannot flip " +
        "the selection, and high/low/range are exact integer extremes",
      Seq("round(value * 100)", "* 1000000000 + event_id")),
    "w21_drawdown" -> GrainMargin(0.5,
      "per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain values); day binning is exact integer division of " +
        "the nanos timestamp, and equity/peak/drawdown are exact integer " +
        "running sum / running max / difference over the bounded day " +
        "frame — no float ever re-enters after the cents cast",
      Seq("round(value * 100)", "// 86400000000000")),
    "b17_tpch_q8" -> GrainMargin(0.5,
      "b2's discipline plus b7's exact ratio emit: per-row cents/percent " +
        "conversions are the only fp ops (0.5 margin each on 2-dp-grain " +
        "data); nation and total volume accumulate exact integers in " +
        "DECIMAL(38,0) vs HUGEINT, year() is exact calendar arithmetic, " +
        "and the market share is the cross-multiplied truncating " +
        "quotient nation·1e6 div total — no float division",
      Seq("round(l_extendedprice * 100)", "* 1000000")),
    "b19_tpch_q9" -> GrainMargin(0.5,
      "b2's discipline on the profit face: per-row qty/cents/pct/" +
        "retail-cents conversions are the only fp ops (0.5 margin each " +
        "on integral-quantity, 2-dp-grain data); profit is an exact " +
        "integer difference of exact products accumulated in " +
        "DECIMAL(38,0) vs HUGEINT, year() is exact calendar arithmetic",
      Seq("round(l_quantity)", "round(p_retailprice * 100)")),
    "b21_tpch_q20" -> GrainMargin(0.5,
      "per-row qty/balance conversions are the only fp ops (0.5 margin " +
        "on integral-quantity, 2-dp-grain data); the dominance decision " +
        "is the exact integer cross-multiplication 2·qty > tot — never " +
        "a 0.5· float multiply — and the semi-joins are set membership",
      Seq("round(l_quantity)", "2 * qty > tot")),
    "b22_tpch_q2" -> GrainMargin(0.5,
      "per-row cents/qty/balance conversions are the only fp ops (0.5 " +
        "margin each); the argmin decision runs on the exact truncating " +
        "integer quotient cents·1e6 div qty under the (unit_x1e6, " +
        "l_suppkey) TOTAL order — both engines pick the identical row, " +
        "no float ratio anywhere",
      Seq("round(l_extendedprice * 100)",
        "ORDER BY unit_x1e6, l_suppkey")),
    "b23_tpch_q11" -> GrainMargin(0.5,
      "per-row qty/retail-cents conversions are the only fp ops (0.5 " +
        "margin on integral-quantity, 2-dp-grain data); ledger values " +
        "accumulate exact integers in DECIMAL(38,0) vs HUGEINT and the " +
        "share threshold is the exact integer cross-multiplication " +
        "val·n_parts > 2·total (twice the mean share — Q11's SF-scaled " +
        "fraction made scale-free)",
      Seq("round(p_retailprice * 100)", "val * np > 2 * tv")),
    "b13_tpch_q7" -> GrainMargin(0.5,
      "b2's discipline on the dual-chain join: per-row cents/percent " +
        "conversions are the only fp ops (0.5 margin each on 2-dp-grain " +
        "data); the nation-pair filter compares strings, year() is exact " +
        "calendar arithmetic, and the (pair, year) grouping totals order " +
        "the output",
      Seq("round(l_extendedprice * 100)", "year(l_shipdate)")),
    "b3_tpch_q3" -> GrainMargin(0.5,
      "b2's discipline verbatim: the two per-row cents/percent " +
        "conversions are the only fp ops (0.5 margin each on 2-dp-grain " +
        "data); revenue accumulates exact integer cents x (100 - pct) " +
        "in DECIMAL(38,0) vs HUGEINT, o_orderdate emits as an exact " +
        "epoch-day long, and the top-10 orders exact integers",
      Seq("round(l_extendedprice * 100)", "round(l_discount * 100)",
        "epoch_us(o_orderdate) // 86400000000")),
    "f6_markov_stationary" -> IntegerDecided(
      "pi is an integer x1e6 vector throughout: every power-round term " +
        "is the exact integer division pi_i * n_pair div n_from, sums " +
        "are order-independent, and the convergence delta is integer " +
        "abs — no fp anywhere in the iteration",
      Seq("p.p * cp.n_pair // tp.n_from", "1000000 // n_states")),
    "a28_ks_test" -> GrainMargin(0.5,
      "the per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain data); the ECDF gap max|cum_a*n_b - cum_b*n_a|, the " +
        "x1e4 statistic, and the SQUARED alpha=0.05 threshold " +
        "comparison (1.358^2 = 1.844164 as the rational 1844164/1e6) " +
        "are exact integer arithmetic — no sqrt, no float ECDF",
      Seq("round(value * 100)", "1844164")),
    "a27_rank_correlation" -> GrainMargin(0.5,
      "the per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain data); ranks are integer row_numbers under a total " +
        "order and rho's closed form is exact DECIMAL(38,0)/HUGEINT " +
        "integer division",
      Seq("round(l_extendedprice * 100)", "6 * sd2 * 1000000")),
    "d14_minhash_calibration" -> IntegerDecided(
      "signature agreement, shingle intersection/union sizes, the x1000 " +
        "scalings and the abs() error are all exact integer arithmetic " +
        "over the md5-derived signatures — no fp anywhere",
      Seq("n_match * 1000 // 16", "n_inter * 1000 // n_union")),
    "a25_ols_trend" -> GrainMargin(0.5,
      "the per-row cents conversion round(l_extendedprice * 100) on " +
        "2-dp-grain data is the only fp op (0.5 margin); the five " +
        "sufficient statistics accumulate in DECIMAL(38,0) vs HUGEINT " +
        "and slope/intercept/R² are integer divisions of exact " +
        "integers — including the ADAPTIVE shared-digit R² truncation " +
        "(tr from string digit-length, an exact integer op; abs() only " +
        "feeds that length, never an fp path)",
      Seq("round(l_extendedprice * 100)",
        "(n * sxy - sx * sy) * 1000000",
        "length(CAST(abs(rnum) AS VARCHAR))")),
    "a26_chi_square" -> IntegerDecided(
      "contingency counts and marginals are exact longs; the per-cell " +
        "term rides the adaptive shared-digit truncation (tr from " +
        "string digit-length — exact integer; abs() only feeds that " +
        "length) and every division is integer `div`/`//` — no fp " +
        "anywhere on the decision path",
      Seq("length(CAST(abs(u) AS VARCHAR))",
        "nullif(den // tr // tr, 0)")),
    "g13_assortativity" -> IntegerDecided(
      "degrees are exact counts, moments accumulate in DECIMAL(38,0) " +
        "vs HUGEINT, and sign/R² are integer comparisons and divisions " +
        "with the a25 adaptive truncation — abs() only feeds the " +
        "digit-length, never an fp path",
      Seq("length(CAST(abs(rnum) AS VARCHAR))",
        "CASE WHEN rnum > 0 THEN 1")),
    "a29_mann_whitney" -> GrainMargin(0.5,
      "the per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain data); doubled midranks, U·2, the rank-biserial " +
        "AUC x1e6 and the SQUARED alpha=0.05 normal-approx decision " +
        "(1.96² = 3.8416 as the rational 38416/1e4, divided through by " +
        "(n_a·n_b)² before squaring) are exact integer arithmetic — " +
        "abs() runs on exact integers only",
      Seq("round(value * 100)", "38416")),
    "f7_cohort_ltv" -> GrainMargin(0.5,
      "the per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain data); cohort/age are f2's exact epoch-week integer " +
        "grid (nanos div, no calendar floats) and revenue/LTV are exact " +
        "long sums",
      Seq("round(value * 100)", "epoch_ns(ts) // 604800000000000")),
    "u8_cdc_apply" -> GrainMargin(0.5,
      "the per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain data) and is payload, not decision: last-writer-wins " +
        "picks by the exact (ts, event_id) order, unique by event_id",
      Seq("round(value * 100)", "ORDER BY ts DESC, event_id DESC")),
    "st4_stream_cdc" -> GrainMargin(0.5,
      "u8's decision path verbatim, driven through the streaming fold: " +
        "cents conversion is payload-only, and CdcStream's " +
        "max-of-(ts, op_id) struct ordering is the same exact integer " +
        "last-writer-wins the oracle ranks by",
      Seq("round(value * 100)", "ORDER BY ts DESC, event_id DESC")),
    "w16_changepoint" -> GrainMargin(0.5,
      "the per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain data); bin sums, prefix sums, and every split's " +
        "cross-multiplied mean gap ride DECIMAL(38,0) vs HUGEINT with " +
        "truncating x100 divisions — the argmax orders exact integers " +
        "with an earliest-split tie-break, abs() on exact integers only",
      Seq("round(value * 100)", "ORDER BY gap_x100 DESC, s LIMIT 1")),
    "a38_mde" -> GrainMargin(0.5,
      "the per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain data); variance is the truncated-integer " +
        "(n·Q − S²) div n² and MDE² is emitted squared against the " +
        "rational (z_.975 + z_.80)² = 7848963/1e6 — no sqrt, no float " +
        "anywhere past the grain",
      Seq("round(value * 100)", "7848963")),
    "a37_cuped" -> GrainMargin(0.5,
      "the per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain data); the cutoff is an exact integer-nanos " +
        "midpoint, the sufficient statistics ride DECIMAL(38,0) vs " +
        "HUGEINT, theta/rho² take a25's adaptive truncation, and the " +
        "adjusted means state their truncation points verbatim in both " +
        "engines — no float anywhere past the grain",
      Seq("round(value * 100)", "(min(tns) + max(tns)) // 2",
        "length(CAST(abs(rnum) AS VARCHAR)) - 16")),
    "w19_theil_sen" -> GrainMargin(0.5,
      "the per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain data); the daily level is the truncating integer " +
        "mean (Σc·100) div n, every pairwise slope is a truncating " +
        "integer divide of exact longs, and the median is the discrete " +
        "order statistic min slope with 2·cum >= n_pairs — no float " +
        "anywhere past the grain",
      Seq("round(value * 100)", "* 100 // count(*)",
        "WHERE cm * 2 >= n_pairs")),
    "m17_calibration" -> GrainMargin(0.5,
      "the per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain data); binning, mean predicted probability, " +
        "empirical rate, and the Brier sum are all exact integer " +
        "arithmetic over the cents (value-based deciles, truncating " +
        "divides) — no rank ties, no float past the grain",
      Seq("round(value * 100)", "least(9, c * 10 // (cmax + 1))")),
    "c18_distribution_drift" -> IntegerDecided(
      "no float anywhere: the cutoff is the exact integer-nanos " +
        "midpoint, category counts are exact, abs() runs on the exact " +
        "cross-multiplied integer |n1·t2 − n2·t1|, and every share/gap/" +
        "TVD emit is a truncating integer divide",
      Seq("(min(tns) + max(tns)) // 2",
        "abs(CAST(n1 AS HUGEINT) * t2")),
    "m18_gains_table" -> GrainMargin(0.5,
      "the per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain data); ranking is the exact (c DESC, event_id) " +
        "total order, deciles are exact rank arithmetic, and capture/" +
        "lift are truncating integer divides",
      Seq("round(value * 100)", "ORDER BY c DESC, event_id",
        "(rk - 1) * 10 // nn")),
    "w18_seasonal_profile" -> GrainMargin(0.5,
      "the per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain data); hour-of-day is exact nanos modulo, the mean " +
        "is a truncating integer divide, and the peak flag ranks exact " +
        "integers under the (mean DESC, hod) total tie-break",
      Seq("round(value * 100)", "ORDER BY mean_x100 DESC, hod")),
    "f8_sessionize" -> GrainMargin(0.5,
      "the per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain data) and is payload, not decision: session breaks " +
        "compare exact integer nanos gaps under the identical " +
        "(tns, event_id) per-user total order",
      Seq("round(value * 100)", "ORDER BY tns, event_id")),
    "a35_acf" -> GrainMargin(0.5,
      "the per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain data); the center is the TRUNCATED integer mean " +
        "S div n, deviations/products/sums ride DECIMAL(38,0) vs " +
        "HUGEINT, and r_k·1e6 is the a25 adaptive-truncation integer " +
        "division — no float anywhere past the grain",
      Seq("round(value * 100)", "length(CAST(abs(nk) AS VARCHAR)) - 31")),
    "a34_runs_test" -> GrainMargin(0.5,
      "the per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain data); the median is a rank-selected order " +
        "statistic, runs count by exact integer sign flips, and the " +
        "alpha=0.05 decision is the a28/a29 divide-through integer " +
        "form with every truncating quotient bounded — abs() on exact " +
        "integers only",
      Seq("round(value * 100)", "38416")),
    "a33_mad_outliers" -> GrainMargin(0.5,
      "the per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain data); median and MAD are exact order statistics " +
        "selected by integer rank (2·cum vs n) off value/deviation " +
        "histograms, and the 3·MAD outlier mass is exact longs — abs() " +
        "runs on exact integers only",
      Seq("round(value * 100)", "cd * 2 >= n")),
    "w17_bollinger_bands" -> GrainMargin(0.5,
      "the per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain data); rolling sums / sums-of-squares ride " +
        "DECIMAL(38,0) vs HUGEINT and the 2-sigma flag is the exact " +
        "squared-inequality (x·n − S)² > 4(n·Sxx − S²) — no sqrt, no " +
        "float variance; warm-up rows emit NULL, identically typed on " +
        "both engines",
      Seq("round(value * 100)", "> 4 * (n * sxx - sw * sw)")),
    "a31_cramers_v" -> IntegerDecided(
      "a26's contingency arithmetic verbatim (exact counts, adaptive " +
        "shared-digit truncation with abs() feeding only the " +
        "digit-length), plus one more exact integer division for " +
        "V² x1e6 — no fp anywhere",
      Seq("length(CAST(abs(u) AS VARCHAR))",
        "(CAST(nn AS HUGEINT) * (least(nl, ns) - 1))")),
    "a30_tukey_fences" -> GrainMargin(0.5,
      "the per-row cents conversion is the only fp op (0.5 margin on " +
        "2-dp-grain data); quartiles are discrete order statistics " +
        "selected by exact integer rank (4·cum vs n), and the x2 Tukey " +
        "fences and outlier masses are exact longs — no interpolated " +
        "quantile, no float anywhere past the grain",
      Seq("round(value * 100)", "cm * 4 >= n * 3")),
    "a24_winsorize" -> IntegerDecided(
      "a21's cents conversion (0.5 margin) is the only fp op; the " +
        "clipping bounds are exact order statistics selected by integer " +
        "rank (n+1)*k div 100 under a total (c, event_id) order, and " +
        "clip counts / the winsorized sum are exact longs",
      Seq("round(value * 100)", "ORDER BY c, event_id")),
    "j17_nearest_asof" -> IntegerDecided(
      "the cents conversion (0.5 margin) is the only fp op and is " +
        "payload, not decision: the nearest-side choice compares exact " +
        "integer micros under the identical (t_us, kind, id) window " +
        "order, ties pinned to the earlier observation",
      Seq("round(value * 100)", "t_us - p_t <= n_t - t_us")),
    "a23_benford" -> IntegerDecided(
      "the cents conversion (0.5 margin) is the only fp op; the first " +
        "digit is the leading char of the exact long rendered as a " +
        "string, and share/expectation/deviation are integer-div longs " +
        "against literal Benford constants",
      Seq("round(o_totalprice * 100)", "n * 10000 // n_total")),
    "w14_backtest" -> IntegerDecided(
      "a21's cents conversion (0.5 margin) is the only fp op; lags, " +
        "absolute errors, floored MAE and the snaive_better flag are " +
        "exact longs under the same (tns, event_id) total order both " +
        "engines sort by",
      Seq("round(value * 100)", "ORDER BY tns, event_id")),
    "c13_temperature_mix" -> BitPinned(
      "sqrt of an exact integer count is ONE correctly-rounded op — " +
        "bit-identical double in both engines — and *1000 is a second " +
        "correctly-rounded op on that identical double, so " +
        "floor(sqrt(n)*1000) yields the same long everywhere; every " +
        "downstream decision (integer-div quota, rn <= alloc) is exact " +
        "integer arithmetic on those longs",
      Seq("floor(sqrt(n_docs) * 1000)", "weight * 100 // wsum")),

    // ---- ordered-fold float pipelines ----
    "w11_ewma" -> BitPinned(
      "per-key EWMA folds the identically-ordered (ts, event_id) series " +
        "sequentially in both engines — bit-equal before round(.,4)",
      Seq("list_reduce", "ORDER BY ts, event_id")),
    "st7_stream_ewma" -> BitPinned(
      "w11's fold run as a multi-batch stream: same seed, same 0.8/0.2 " +
        "doubles, sequential per key — bit-equal before round(.,4) " +
        "PROVIDED the stream's order equals the oracle's. Within a " +
        "batch runningEwma sorts by full-resolution event time; across " +
        "batches the time-ordered landing composes the fold; ts-only " +
        "order == (ts, event_id) order because the data has zero " +
        "same-user-same-ts collisions — premise re-verified against " +
        "the CURRENT testdata by DecisionAuditSpec",
      Seq("list_reduce", "ORDER BY ts, event_id")),
    "a21_cusum" -> IntegerDecided(
      "the recurrence is multiplied through by 100n so the entire fold " +
        "(d_i = n*c_i - sum_cents - 50n, S_i = max(0, S+d)) and the " +
        "S >= 300n breach run in exact longs; the only fp op is the " +
        "per-row cents conversion (0.5 margin). The first cut folded " +
        "doubles and lost one sf0.1 row to cross-engine round() " +
        "implementation divergence on a boundary-adjacent real — " +
        "arbitrary reals have no emit-grain margin",
      Seq("round(value * 100)", "ORDER BY ce.tns, ce.event_id",
        "mx >= 300 * n_events")),
    "w13_holt" -> BitPinned(
      "w11's ordered-fold discipline with a (level, trend) struct state: " +
        "identical element order, identical op order per step (the " +
        "coalesce-seeded first step included), smoothing constants " +
        "0.5/0.25/0.75 exactly representable — bit-equal before round(.,4)",
      Seq("list_reduce", "ORDER BY ts, event_id", "0.25::DOUBLE")),
    "w15_holt_winters" -> BitPinned(
      "w13's fold discipline with the rotating (l, t, s0..s3) seasonal " +
        "state: the oracle's list accumulator inlines l_new at every " +
        "consumption site so both engines state the identical op " +
        "sequence; constants 0.5/0.25/0.75 exactly representable — " +
        "bit-equal before round(.,4)",
      Seq("list_reduce", "ORDER BY ts, event_id",
        "acc[4], acc[5], acc[6]", "0.25::DOUBLE")),
    "e1_cosine_topk" -> arrayFold,
    "e15_matryoshka" -> arrayFold,
    "e2_ann_buckets" -> arrayFold,
    "e10_mips" -> arrayFold,
    "e3_embed_neardup" -> BitPinned(
      arrayFold.note + "; the cos > 0.45 keep-threshold therefore compares " +
        "bit-identical doubles and cannot flip",
      Seq("cos > 0.45")),
    "e12_random_projection" -> BitPinned(
      arrayFold.note + "; e5's quantization path verbatim (max|x|/127 " +
        "scale, one correctly-rounded division per element), then the " +
        "projection is pure integer arithmetic on the identical longs — " +
        "md5-derived signs are integer parity, no further fp anywhere",
      Seq("list_max", "127.0", "% 2 = 0")),
    "e14_knn_graph" -> BitPinned(
      arrayFold.note + "; the per-node top-3 ranks bit-identical cosines " +
        "under the (cos DESC, nbr_id) total tie-break, so rank and cut " +
        "decide identically; the round(.,5) emit carries the documented " +
        "e1-class residual",
      Seq("ORDER BY cos DESC, nbr_id", "rank <= 3")),
    "e5_quantize" -> BitPinned(
      arrayFold.note + "; scale = max|x|/127 is a max (order-free) plus one " +
        "division, and qv/cos_recon fold per-vector in element order",
      Seq("list_max", "127.0")),

    // ---- integer-ratio scores and integer decisions ----
    "c1_curation_apply" -> intRatio,
    "c3_decontaminate" -> BitPinned(intRatio.note,
      Seq("* 1000.0 / len(t.sh)")),
    "c6_domain_cap" -> intRatio,
    "t2_quality" -> BitPinned(intRatio.note +
      "; every keep-flag compares the resulting exact integers",
      Seq("* 1000 / len(w)")),
    "t12_repetition" -> BitPinned(intRatio.note,
      Seq("top_tok_n * 1000.0 / len(w)")),
    "m2_precision_at_k" -> intRatio,
    "a8_histogram" -> intRatio,
    "d5_jaccard_pairs" -> intRatio,
    "d10_fuzzy_pairs" -> IntegerDecided(
      "abs() runs on integer string lengths; the <= 2 prune is pure " +
        "integer arithmetic",
      Seq("abs(length(a.p_name) - length(b.p_name)) <= 2")),
    "t14_unigram_surprisal" -> IntegerDecided(
      "frequency class via length(bin(total div cnt)) and the keep flag " +
        "via integer `div`/`//` — no fp anywhere on the decision path " +
        "(named in VERDICT r8 #2; scanner-clean but pinned anyway)",
      Seq("// count(*) <= 4100")),
    "t15_vocab_coverage" -> IntegerDecided(
      "coverage_x10000 is integer `div` of exact counts",
      Seq("* 10000 // total")),

    // ---- grain-margin rounded aggregates over 2-dp inputs ----
    "a3_group_sum" -> twoDpSum,
    "a14_cube" -> twoDpSum,
    "b1_bucketed_join" -> twoDpSum,
    "j1_broadcast_agg" -> twoDpSum,
    "j10_range_join_rule" -> twoDpSum,
    "j13_nullsafe_join" -> twoDpSum,
    "o3_topk" -> twoDpSum,
    "o9_partitioned_write" -> twoDpSum,
    "s8_json_roundtrip" -> twoDpSum,
    "sk1_skew_salted_join" -> twoDpSum,
    "w3_tumbling_window" -> twoDpSum,
    // streaming faces of the same 2-dp-grain sums: st1 is w3's window agg
    // run through the streaming engine, st2 aggregates the deduped sink
    "st1_stream_hourly" -> twoDpSum,
    "st2_stream_dedup" -> twoDpSum,
    "w5_sliding_window" -> twoDpSum,
    "w10_gap_fill" -> twoDpSum,
    "w8_trailing_window" -> twoDpSum,
    "w6_running_total" -> GrainMargin(0.005,
      twoDpSum.note + "; running window sums are prefixes of the same " +
        "ordered series — still on the 0.01 grid"),
    "a5_group_entries" -> centsExact,
    "a5_map_from_entries" -> centsExact,
    "a9_argmax_map" -> centsExact,
    "g1_dominant_tag" -> centsExact,
    "o13_weighted_sample" -> GrainMargin(1e-3,
      "A-Res ranking compares key = ln(u)/w where u is hash-derived and " +
        "ENGINE-IDENTICAL; ln/div may diverge by <= a few ulps across " +
        "libms (~1e-16 relative) while adjacent key gaps on continuous " +
        "hash uniforms are ~1e-2 — the per-stratum ranking cannot flip; " +
        "only integer columns reach the hash",
      Seq("ln(", "/ 4294967296.0")),
    "e11_mmr_diverse" -> GrainMargin(5e-7,
      "all cosines are 5-dp-rounded sequential array folds (e1's " +
        "BitPinned class, identical fold order both engines); the MMR " +
        "score cos - 0.5*penalty is identical-double arithmetic on those " +
        "and sits ON the 1e-6 decimal grid (cos is 5-dp, half a 5-dp " +
        "value is exactly 6-dp), so the round(score, 6) emit has margin " +
        "5e-7 vs ~1e-16 noise — round(score, 5) was the a21 half-way " +
        "trap and the sf0.001 drill caught it; every argmax carries the " +
        "(score DESC, cand_id) total tie-break",
      Seq("round(s1_score, 6)", "ORDER BY score DESC, cand_id", "0.5 *")),
    "o16_poisson_bootstrap" -> GrainMargin(0.5,
      centsExact.note + "; everything downstream is integer — Poisson " +
        "draws compare the md5 hash against hard-coded floor(CDF*2^32) " +
        "BIGINT literals (identical in both engines by construction), " +
        "replicate and point means are integer division of exact cents, " +
        "and the CI bounds are order statistics picked by row_number " +
        "under a total (mean_c, r) tie-break — no fp on any decision path",
      Seq("round(value * 100)", "1580030168", "ORDER BY mean_c, r")),
    "u4_agg_ledger" -> GrainMargin(0.5,
      centsExact.note + "; ledger merges then sum exact longs — the only " +
        "fp op is the per-row cents conversion",
      Seq("round(value * 100)")),
    "p12_unpivot" -> storedPass,
    "f5_rfm_segments" -> GrainMargin(0.5,
      centsExact.note + "; ntile then ranks exact longs under total " +
        "tie-break orders — no fp on the quartile path",
      Seq("round(value * 100)", "ORDER BY cents DESC, user_id")),
    "o15_block_sample" -> GrainMargin(0.5,
      centsExact.note + "; block membership is an integer hash rule and " +
        "the HT estimator multiplies exact long sums",
      Seq("round(l_extendedprice * 100)", "sum(cents) * 10")),
    "w12_rolling_median" -> GrainMargin(0.5,
      centsExact.note + "; the frame median then SELECTS an element of " +
        "the exact-long list (lower median, integer index) — no fp op " +
        "after the per-row cents conversion",
      Seq("round(value * 100)", "(len(arr) + 1) // 2")),
    "j15_interp_asof" -> GrainMargin(0.5,
      centsExact.note + "; bracketing and interpolation then run on exact " +
        "non-negative longs (micros timestamps, cents, cross-form " +
        "numerator), where truncating div == flooring //",
      Seq("round(value * 100)",
        "(p_cents * (n_t - t_us) + n_cents * (t_us - p_t)) // (n_t - p_t)")),
    "j12_attribution" -> GrainMargin(0.005,
      "round(value, 2) is an identity on 2-dp-quantized stored values"),
    "st5_stream_join" -> GrainMargin(0.005,
      "j12's decision path verbatim through the stream-stream join: " +
        "round(value, 2) is an identity on 2-dp-quantized stored values; " +
        "the join predicate is exact integer-epoch arithmetic"),
    "j8_asof_join" -> GrainMargin(0.005,
      "round(value, 2) is an identity on 2-dp-quantized stored values"),
    "j3_join_chain" -> GrainMargin(5e-5,
      "revenue = sum of price*(1-disc), both 2-dp -> products exact on the " +
        "1e-4 grid; round(.,4) margin 5e-5 vs summation noise < 1e-7 at " +
        "these magnitudes"),
    "j4_anti_join" -> storedCmp,
    "p6_null_normalize" -> storedCmp,
    "p9_expr_entry" -> GrainMargin(0.005,
      twoDpSum.note + "; the WHERE value >= 1.0 predicate compares stored " +
        "doubles (bit-identical in both engines)"),
    "s2_parquet_roundtrip" -> GrainMargin(0.005,
      twoDpSum.note + "; WHERE o_totalprice > 100000.0 compares stored " +
        "doubles"),
    "w7_quantile_buckets" -> BitPinned(
      "percent_rank = (rank-1)/(n-1), one division of exact integers; " +
        "round(value,2) is an identity on the 2-dp grid"),
    "a15_percentiles" -> GrainMargin(5e-4,
      "interpolated percentiles over identical sorted inputs: engines may " +
        "use algebraically-equal-but-differently-associated interpolation " +
        "formulas (last-ulp divergence ~1e-13) — 3-dp grain dwarfs it"),
    "m3_ranking_metrics" -> GrainMargin(5e-7,
      "per-user AP/P@k/NDCG are integer-ratio sums over pinned rank order; " +
        "the cross-user avg diverges only by summation order " +
        "(~1e-15 absolute over ~1.4k users) vs the 1e-6 rounding grain"),
    "g2_pagerank" -> GrainMargin(5e-7,
      "per-round contribution sums diverge only in summation order " +
        "(~1e-16 per round, 3 rounds) vs the 1e-6 rounding grain on " +
        "O(0.01)-scale ranks"),

    // ---- stored-value pass-through (flagged by the schema walk) ----
    "a9_argmax" -> storedPass,
    "j6_keyed_concat" -> storedPass,
    "o1_sort" -> storedPass,
    "o2_limit" -> storedPass,
    "p1_project_filter" -> storedPass,
    "p5_column_drop" -> storedPass,
    "w2_topk_per_key" -> storedPass,
    "w9_topk_agg" -> storedPass
  )

  /** Rows-only (oracle-less) queries whose outputs rest on float decisions,
    * mapped to the spec that covers them instead of the driver hash.
    */
  val rowsOnlyCovered: Map[String, String] = Map(
    "c5_quality_classifier" -> "QualityClassifierSpec",
    "e4_ann_ivf" -> "IvfIndexSpec",
    "e13_probe_sweep" -> "Round10LawsSpec",
    "e6_semdedup" -> "SemdedupSpec",
    "e7_pq_adc" -> "PqIndexSpec",
    "e8_ivfpq" -> "PqIndexSpec",
    "e9_ivf_maintain" -> "IvfIndexSpec",
    "o5_row_sample" -> "RegistryAuditSpec",
    "m4_als_recommend" -> "AlsSpec",
    "m5_als_rmse" -> "AlsSpec",
    "m6_item_similarity" -> "SimilarityScaleSpec",
    "m7_sweep" -> "SweepsSpec",
    "m8_grid" -> "SweepsSpec",
    "m9_curve" -> "SweepsSpec",
    "m10_cv" -> "SweepsSpec",
    "a17_hll_distinct" -> "GraphTemporalSpec",
    "a18_ddsketch_quantiles" -> "DdSketchSpec",
    "t5_approx_sketches" -> "RegistryAuditSpec",
    "c8_bloom_decontaminate" -> "BloomSpec",
    "t16_bpe_merges" -> "BpeTrainerSpec",
    "t21_bpe_encode" -> "BpeTrainerSpec",
    "t17_heavy_hitters" -> "MisraGriesSpec",
    "o6_user_sample" -> "IndexingSpec",
    "o8_stratified_sample" -> "RegistryAuditSpec",
    "o11_compaction" -> "CompactionSpec",
    "t19_compression_ratio" -> "DeflateLenSpec",
    "m11_rec_coverage" -> "AlsSpec",
    "m12_fold_in" -> "FoldInSpec"
  )
}
