package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.LocalReport
import graft.functions.Fingerprint

/** Data-layout and curation operators (SURVEY.md §2.7 X40-X45): the
  * pipeline steps between a cleaned corpus and training shards — PII
  * scrubbing, mixture reweighting, deterministic sharding, inverted-index
  * construction, z-order layout for data skipping, and quantile-based
  * outlier trimming.
  *
  * Shared scale theme: per-document passes are narrow codegen'd expressions
  * (regexp/HOF — scan throughput, zero shuffles); corpus statistics are one
  * combinable shuffle; layout operators are exactly the one range/hash
  * repartition they model, never a global sort plus a second pass.
  */
object PipelineOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private val EmailRe = PiiPatterns.Email
  private val IpRe    = PiiPatterns.Ipv4
  private val NumRe   = PiiPatterns.LongNumber

  /** X261 — deterministic A/B experiment analysis: the full experiment
    * readout a growth/data platform runs — hash-based arm assignment
    * (fp('exp:'+unit) % 2, the production bucketing that needs no
    * coordination and no stored assignment table), a conversion metric
    * (customer placed an order ≥ $465k — ~50% base rate on this corpus),
    * and the two-proportion z² verdict at 95% (milli-rounded χ²₁ >
    * 3841). Assignment and boost hashes go through the middle-square
    * finalizer (fp² div 2^16): the raw polynomial fingerprints of
    * 'exp1:k', 'exp2:k', 'boost:k' differ by CONSTANTS for same-length
    * keys (q279's affine lesson), which measured as perfectly
    * anti-correlated arms and a boost that never fired in treatment
    * until squared. Two
    * experiments ship side by side: exp1 plants a genuine treatment
    * effect (arm B converts additionally on a 50% boost hash — ~+22pp)
    * and must read SIGNIFICANT; exp2 is the A/A control (same metric,
    * independent assignment salt, no effect) and must read NOT
    * significant — the pair is the calibration every experimentation
    * platform runs before anyone trusts a dashboard. z² is computed as
    * IEEE doubles with the IDENTICAL operation order on both engines
    * (the house sqrt-divide determinism lane); counts and rates stay
    * exact integers.
    *
    * Scale: one per-customer max-order fold + a narrow assignment/
    * conversion projection; both experiments aggregate in the SAME
    * single pass (conditional sums), folding the corpus to one row that
    * stacks to two. Nothing per-unit is ever collected. */
  def q291AbExperiment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val conv = Tables.load(s, dir, "customer")
      .select($"c_custkey".cast("long").as("k"))
      .join(Tables.load(s, dir, "orders")
          .groupBy($"o_custkey".cast("long").as("k"))
          .agg(max(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("mx")),
        Seq("k"), "left")
      .select($"k",
        (coalesce($"mx", lit(0L)) >= 46500000L).as("natural"),
        expr("""pmod(graft_fingerprint(concat('exp1:', CAST(k AS STRING))) *
          |  graft_fingerprint(concat('exp1:', CAST(k AS STRING)))
          |  div 65536, 2)""".stripMargin).as("arm1"),
        expr("""pmod(graft_fingerprint(concat('exp2:', CAST(k AS STRING))) *
          |  graft_fingerprint(concat('exp2:', CAST(k AS STRING)))
          |  div 65536, 2)""".stripMargin).as("arm2"),
        (expr("""pmod(graft_fingerprint(concat('boost:', CAST(k AS STRING))) *
          |  graft_fingerprint(concat('boost:', CAST(k AS STRING)))
          |  div 65536, 2)""".stripMargin) === 0L).as("boost"))
      .select($"k", $"arm1", $"arm2",
        ($"natural" || ($"arm1" === 1L && $"boost")).as("conv1"),
        $"natural".as("conv2"))
    val sums = conv.agg(
      sum(when($"arm1" === 0L, 1L).otherwise(0L)).as("n1a"),
      sum(when($"arm1" === 0L && $"conv1", 1L).otherwise(0L)).as("x1a"),
      sum(when($"arm1" === 1L, 1L).otherwise(0L)).as("n1b"),
      sum(when($"arm1" === 1L && $"conv1", 1L).otherwise(0L)).as("x1b"),
      sum(when($"arm2" === 0L, 1L).otherwise(0L)).as("n2a"),
      sum(when($"arm2" === 0L && $"conv2", 1L).otherwise(0L)).as("x2a"),
      sum(when($"arm2" === 1L, 1L).otherwise(0L)).as("n2b"),
      sum(when($"arm2" === 1L && $"conv2", 1L).otherwise(0L)).as("x2b"))
    sums.selectExpr(
        """stack(2,
          |  'exp1_treatment', n1a, x1a, n1b, x1b,
          |  'exp2_aa_control', n2a, x2a, n2b, x2b)
          |AS (experiment, n_a, x_a, n_b, x_b)""".stripMargin)
      .selectExpr("experiment", "n_a", "x_a", "n_b", "x_b",
        "x_a * 1000000 div n_a AS rate_a_ppm",
        "x_b * 1000000 div n_b AS rate_b_ppm",
        """CAST(round(
          |  ((CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
          |    - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
          |   * (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
          |    - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
          |  / ((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
          |   * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
          |   * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
          |  * 1000.0) AS BIGINT) AS z2_milli""".stripMargin)
      .selectExpr("experiment", "n_a", "x_a", "n_b", "x_b",
        "rate_a_ppm", "rate_b_ppm", "z2_milli",
        "CAST(CASE WHEN z2_milli > 3841 THEN 1 ELSE 0 END AS BIGINT) AS significant")
      .orderBy($"experiment")
  }

  /** X380 — off-policy evaluation by replay (Li et al. WSDM 2011, the
    * contextual-bandit replay estimator): "what WOULD this targeting
    * policy have earned?" answered from logged uniformly-randomized
    * data alone — keep exactly the rounds where the logged arm equals
    * the policy's arm (under uniform logging those rounds are an
    * unbiased sample of the policy's own on-policy distribution) and
    * average their observed rewards. Logged arms are q291's exp1
    * middle-square assignment (the shared definition) and rewards its
    * potential-outcome rule conv(k, a) = natural(k) ∨ (a = 1 ∧
    * boost(k)) — which makes this corpus a rare thing: the
    * COUNTERFACTUAL TRUTH V(π) = mean_k r(k, π(k)) is computable
    * in-query, so the estimator's error is MEASURED, not argued.
    * Three policies: always-treat, a balance-targeting rule
    * (treat iff c_acctbal > 0 — a real segmentation shape), and the
    * logging policy itself — whose replay matches EVERY round and
    * recovers its true value EXACTLY (the estimator's fixed point,
    * spec-pinned err = 0). Measured at sf0.01 (1500 logged rounds):
    * always-treat V̂ = 781081 vs true 778666 ppm (err 2415 on 740
    * matched rounds), balance-rule V̂ = 760695 vs true 759333 (err
    * 1362 on 748) — replay errors at the √n̂ scale the paper
    * predicts, and BOTH candidate policies are correctly ranked above
    * the logging policy's 644000 (half its rounds waste the
    * boost-eligible users).
    *
    * Scale: ONE narrow scan computes arms, rewards and all three
    * policy matches; each estimate is a combinable 2-counter fold —
    * evaluating P policies costs 2P counters, never a re-log. */
  def q397ReplayEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    Fingerprint.register(s)
    def msq(salt: String) =
      s"""pmod(graft_fingerprint(concat('$salt:', CAST(k AS STRING))) *
         |  graft_fingerprint(concat('$salt:', CAST(k AS STRING)))
         |  div 65536, 2)""".stripMargin
    val base = Tables.load(s, dir, "customer")
      .select($"c_custkey".cast("long").as("k"),
        graft.functions.Exact.cents($"c_acctbal").as("bal"))
      .join(Tables.load(s, dir, "orders")
          .groupBy($"o_custkey".cast("long").as("k"))
          .agg(max(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("mx")),
        Seq("k"), "left")
      .selectExpr("k", "bal", s"${msq("exp1")} AS logged",
        "coalesce(mx, 0L) >= 46500000L AS natural",
        s"${msq("boost")} = 0 AS boost")
      .selectExpr("k", "logged",
        // potential outcomes under both arms (q291's reward rule)
        "CAST(natural OR boost AS INT) AS r1",
        "CAST(natural AS INT) AS r0",
        "CASE WHEN bal > 0L THEN 1L ELSE 0L END AS pi_bal")
    val ag = base.agg(
      count(lit(1)).as("n"),
      // always-treat: pi = 1
      sum(when($"logged" === 1L, 1L).otherwise(0L)).as("m_at"),
      sum(when($"logged" === 1L, $"r1").otherwise(0)).cast("long").as("w_at"),
      sum($"r1").cast("long").as("t_at"),
      // balance rule
      sum(when($"logged" === $"pi_bal", 1L).otherwise(0L)).as("m_bal"),
      sum(when($"logged" === $"pi_bal",
        when($"logged" === 1L, $"r1").otherwise($"r0")).otherwise(0))
        .cast("long").as("w_bal"),
      sum(when($"pi_bal" === 1L, $"r1").otherwise($"r0")).cast("long")
        .as("t_bal"),
      // the logging policy itself
      sum(when($"logged" === 1L, $"r1").otherwise($"r0")).cast("long")
        .as("w_log")).head()
    val n = ag.getLong(0)
    def row(tag: String, m: Long, w: Long, t: Long) = {
      val vHat = if (m == 0L) 0L else w * 1000000L / m
      val vTrue = t * 1000000L / n
      org.apache.spark.sql.Row(tag, m, vHat, vTrue,
        math.abs(vHat - vTrue))
    }
    LocalReport.frame(s, Seq(
      row("1_always_treat", ag.getLong(1), ag.getLong(2), ag.getLong(3)),
      row("2_balance_rule", ag.getLong(4), ag.getLong(5), ag.getLong(6)),
      row("3_logging", n, ag.getLong(7), ag.getLong(7))),
      "scope" -> StringType, "n_matched" -> LongType,
      "v_hat_ppm" -> LongType, "v_true_ppm" -> LongType,
      "err_ppm" -> LongType)
  }

  /** X381 — inverse-propensity off-policy estimators under BIASED
    * logging (Horvitz-Thompson 1952 via the bandit-OPE lens; SNIPS =
    * Swaminathan & Joachims 2015): q397's replay assumes UNIFORM
    * logging; real logs are targeted — here the logger treats engaged
    * users more (p_treat = 75% if the user converts naturally, else
    * 25% — the marketer's instinct, and the textbook confounder since
    * the propensity driver IS the reward driver). Evaluating
    * always-treat: (1) the NAIVE estimator (average reward over
    * treated rounds — the "just filter the log" fallacy) over-samples
    * natural converters and reads 897877 ppm against a truth of
    * 778666 — a +119211 bias MEASURED, not hypothesized; (2) IPS
    * reweights each treated round by 1/p(k) (known propensities —
    * they are the logger's own code) and lands at err 36444 (unbiased
    * in expectation, variance from the realized coin); (3)
    * self-normalized IPS divides by the realized Σ1/p instead of n
    * and lands at 4636 — the naive ≫ IPS > SNIPS ladder exactly as
    * published. The
    * counterfactual truth is computable in-query (q291's potential
    * outcomes — the q397 convention), so all three errors are exact
    * numbers in the frame.
    *
    * Integer discipline: the propensity coin is the squared-tail
    * middle-square u < p_ppm; weights are 10¹² div p_ppm per round
    * (floors identical on both engines); estimator divisions are
    * single final floors.
    *
    * Scale: ONE narrow scan, one combinable fold — the naive/IPS/SNIPS
    * triple costs three counters over the same pass. */
  def q398IpsEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    Fingerprint.register(s)
    val flat = Tables.load(s, dir, "customer")
      .select($"c_custkey".cast("long").as("k"))
      .join(Tables.load(s, dir, "orders")
          .groupBy($"o_custkey".cast("long").as("k"))
          .agg(max(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("mx")),
        Seq("k"), "left")
      .selectExpr("k", "coalesce(mx, 0L) >= 46500000L AS natural",
        """pmod(graft_fingerprint(concat('boost:', CAST(k AS STRING))) *
          |  graft_fingerprint(concat('boost:', CAST(k AS STRING)))
          |  div 65536, 2) = 0 AS boost""".stripMargin,
        """pmod(graft_fingerprint(concat('logb:', CAST(k AS STRING))) *
          |  graft_fingerprint(concat('logb:', CAST(k AS STRING)))
          |  div 65536, 1000000) AS u""".stripMargin)
      .selectExpr("k",
        "CASE WHEN natural THEN 750000L ELSE 250000L END AS p",
        "CAST(natural OR boost AS INT) AS r1",
        """CASE WHEN u < (CASE WHEN natural THEN 750000L ELSE 250000L END)
          |  THEN 1L ELSE 0L END AS treated""".stripMargin)
    val ag = flat.agg(
      count(lit(1)).as("n"),
      sum($"treated").as("m"),
      sum($"r1").cast("long").as("t"),
      sum(when($"treated" === 1L, $"r1").otherwise(0)).cast("long")
        .as("wN"),
      sum(when($"treated" === 1L,
        $"r1" * expr("1000000000000L div p")).otherwise(0L)).as("wIps"),
      sum(when($"treated" === 1L, expr("1000000000000L div p"))
        .otherwise(0L)).as("den")).head()
    val (n, m, t) = (ag.getLong(0), ag.getLong(1), ag.getLong(2))
    val vTrue = t * 1000000L / n
    def row(tag: String, used: Long, vHat: Long) =
      org.apache.spark.sql.Row(tag, used, vHat, vTrue,
        math.abs(vHat - vTrue))
    LocalReport.frame(s, Seq(
      row("1_naive", m, ag.getLong(3) * 1000000L / m),
      row("2_ips", n, ag.getLong(4) / n),
      row("3_snips", m, ag.getLong(4) * 1000000L / ag.getLong(5))),
      "scope" -> StringType, "n_used" -> LongType,
      "v_hat_ppm" -> LongType, "v_true_ppm" -> LongType,
      "err_ppm" -> LongType)
  }

  /** The ONE SRM χ² definition (milli, 1 df) shared by the q394 batch
    * audit, the streaming srmGate and the specs (the sprtWalk rule).
    * p_ppm must be a multiple of 1000 so every division below is exact
    * until the final floor: d_milli = (obs·10⁶ − n·p_ppm) div 1000 is
    * an exact division, term = d² div (n·p_milli) the only floor.
    * int64-safe to n ≈ 10⁹ per scope (d_milli ≤ n). */
  private[graft] def srmX2Milli(nA: Long, nB: Long, pAPpm: Long): Long = {
    val n = nA + nB
    def term(obs: Long, pPpm: Long): Long = {
      val dMilli = (obs * 1000000L - n * pPpm) / 1000L
      dMilli * dMilli / (n * (pPpm / 1000L))
    }
    term(nA, pAPpm) + term(nB, 1000000L - pAPpm)
  }

  /** X376 — sample-ratio-mismatch (SRM) check: the experiment-integrity
    * gate every published A/B platform runs FIRST (Fabijan et al. 2019
    * — "the most useful data-quality test in online experimentation"):
    * if the observed arm counts differ from the INTENDED ratio beyond
    * chance, the experiment is corrupted (a crashing variant, a
    * redirect bug, a logging filter) and its metrics are unreadable no
    * matter how significant — q291 tests the METRIC, this tests the
    * DENOMINATOR. χ² against the intended split via [[srmX2Milli]]
    * (1 df, exact integer until one floor), verdict at the 3.841
    * critical value q291/q352 already use. Three legs: the healthy
    * 50/50 assignment (q291's exp1 middle-square rule — the shared
    * definition), the SAME assignment with a planted VARIANT CRASH
    * (arm-B users with pmod(fp²(crash-key) div 2¹⁶, 6) = 0 never log
    * — the 16.7% one-sided loss that is SRM's canonical cause), and a
    * healthy 90/10 split checked against ITS intended ratio (ratio
    * checks are not 50/50-only). Measured at sf0.01 (1500 users):
    * healthy χ² = 266 milli, crashed 11200 (SRM flagged at ~3× the
    * critical value from a 16.7% one-arm loss — and a weaker 8.3%
    * crash measured 3682, just UNDER the bar at n = 1500: sensitivity
    * grows with n, which is why platforms run SRM continuously rather
    * than once), skewed-healthy 0.
    *
    * Scale: each leg is ONE combinable 2-counter fold over the
    * assignment scan; the χ² is driver arithmetic on two longs — a
    * thousand concurrent experiments cost a thousand counter pairs,
    * which is why the streaming twin is near-free. */
  def q394SrmCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    Fingerprint.register(s)
    def msq(salt: String) =
      s"""pmod(graft_fingerprint(concat('$salt:', CAST(k AS STRING))) *
         |  graft_fingerprint(concat('$salt:', CAST(k AS STRING)))
         |  div 65536""".stripMargin
    val base = Tables.load(s, dir, "customer")
      .select($"c_custkey".cast("long").as("k"))
      .selectExpr("k", s"${msq("exp1")}, 2) AS arm1",
        s"CASE WHEN ${msq("exp9")}, 10) = 0 THEN 1L ELSE 0L END AS arm9",
        s"${msq("crash")}, 6) AS crash")
    val ag = base.agg(
      sum(when($"arm1" === 0L, 1L).otherwise(0L)).as("h_a"),
      sum(when($"arm1" === 1L, 1L).otherwise(0L)).as("h_b"),
      sum(when($"arm1" === 0L, 1L).otherwise(0L)).as("c_a"),
      sum(when($"arm1" === 1L && $"crash" =!= 0L, 1L).otherwise(0L))
        .as("c_b"),
      sum(when($"arm9" === 0L, 1L).otherwise(0L)).as("s_a"),
      sum(when($"arm9" === 1L, 1L).otherwise(0L)).as("s_b")).head()
    def row(tag: String, nA: Long, nB: Long, pPpm: Long) = {
      val x2 = srmX2Milli(nA, nB, pPpm)
      org.apache.spark.sql.Row(tag, nA, nB, pPpm, x2,
        if (x2 > 3841L) 1L else 0L)
    }
    LocalReport.frame(s, Seq(
      row("1_even_healthy", ag.getLong(0), ag.getLong(1), 500000L),
      row("2_even_crashed", ag.getLong(2), ag.getLong(3), 500000L),
      row("3_skew_healthy", ag.getLong(4), ag.getLong(5), 900000L)),
      "scope" -> StringType, "n_a" -> LongType, "n_b" -> LongType,
      "intended_a_ppm" -> LongType, "x2_milli" -> LongType,
      "srm" -> LongType)
  }

  /** X272 — Benford first-digit conformance screen: the classic forensic
    * filter over monetary amounts — natural multiplicative processes put
    * digit d first with probability log10(1+1/d), and ledgers that stray
    * far from that line go to an auditor. Per (scope, digit): observed
    * count, observed ppm, the fixed Benford expectation (integer table
    * ⌊log10(1+1/d)·10⁶⌋ — a CONSTANT, identical on both engines by
    * construction), and the absolute deviation. The verdict on this
    * corpus is the honest one: BOTH amount columns fail Benford loudly
    * (synthetic generators draw from bounded uniforms, not
    * multiplicative growth) — which is precisely what the screen exists
    * to flag about machine-generated numbers; the spec pins the failure
    * magnitude rather than pretending conformance.
    *
    * Scale: first-digit extraction is a narrow string projection; each
    * scope folds in ONE combinable (scope, digit) count — the screen
    * costs one aggregate per audited column at any corpus size. */
  def q301BenfordAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val benford = Seq(301029L, 176091L, 124938L, 96910L, 79181L,
      66946L, 57991L, 51152L, 45757L)
    val scopes = Seq(
      ("orders_totalprice", Tables.load(s, dir, "orders")
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))),
      ("lineitem_extendedprice", Tables.load(s, dir, "lineitem")
        .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))))
    val rows = scopes.flatMap { case (name, df) =>
      val counts = df
        .select(expr("CAST(substring(CAST(v AS STRING), 1, 1) AS BIGINT)")
          .as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val total = counts.values.sum
      (1 to 9).map { d =>
        val n = counts.getOrElse(d.toLong, 0L)
        val obs = n * 1000000L / total
        org.apache.spark.sql.Row(name, d.toLong, n, obs,
          benford(d - 1), math.abs(obs - benford(d - 1)))
      }
    }
    import org.apache.spark.sql.types._
    LocalReport.frame(s,
      rows.sortBy(r => (r.getString(0), r.getLong(1))),
      ("scope", StringType), ("digit", LongType), ("n", LongType),
      ("observed_ppm", LongType), ("benford_ppm", LongType),
      ("abs_dev_ppm", LongType))
  }

  /** X256 — consistent pseudonymization + referential-integrity audit:
    * X40 redacts destructively (a mask token kills every downstream
    * join); governance pipelines that must keep data USABLE pseudonymize
    * instead — a deterministic keyed mapping value → token, identical
    * wherever the value appears, so foreign keys keep joining while the
    * raw identifier never leaves the boundary. Token = 'P' + two
    * independently-salted fingerprints ('s1:'/'s2:' prefixes) — the pair
    * widens the space to ~2^60, so distinct keys collide with probability
    * ~n²/2^61 (zero at every audited SF, and the audit MEASURES it rather
    * than assuming it). The audit proves the two properties that make a
    * pseudonymized release usable: per column, distinct-in == distinct-out
    * (injectivity on this data); across tables, |orders ⋈ customer| is
    * IDENTICAL joining on raw keys and on tokens (consistency — both
    * sides mapped through the same keyed function). The join row reports:
    * n_rows = raw join count, n_distinct_in = token join count,
    * n_distinct_out = distinct join keys, n_collisions = token − raw
    * (0 = joins preserved exactly).
    *
    * Scale: pseudonymization itself is a NARROW codegen'd projection —
    * zero shuffles added to whatever plan consumes it; the audit's joins
    * run on uniform customer keys with the dim side broadcast-eligible;
    * everything aggregates map-side to a 3-row report. */
  def q286Pseudonymize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    def tok(c: String): String =
      s"""concat('P',
         |  CAST(graft_fingerprint(concat('s1:', CAST($c AS STRING))) AS STRING),
         |  '-',
         |  CAST(graft_fingerprint(concat('s2:', CAST($c AS STRING))) AS STRING))"""
        .stripMargin
    val cust = Tables.load(s, dir, "customer")
      .select($"c_custkey".cast("long").as("k"), expr(tok("c_custkey")).as("p"))
    val ords = Tables.load(s, dir, "orders")
      .select($"o_custkey".cast("long").as("k"), expr(tok("o_custkey")).as("p"))
    def colAudit(scope: String, df: DataFrame): DataFrame = df
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"k").as("n_distinct_in"),
        countDistinct($"p").as("n_distinct_out"))
      .select(lit(scope).as("scope"), $"n_rows", $"n_distinct_in",
        $"n_distinct_out",
        ($"n_distinct_in" - $"n_distinct_out").as("n_collisions"))
    val rawJoin = ords.select($"k")
      .join(cust.select($"k"), Seq("k"))
      .agg(count(lit(1)).as("raw_rows"), countDistinct($"k").as("raw_keys"))
    val tokJoin = ords.select($"p")
      .join(cust.select($"p"), Seq("p"))
      .agg(count(lit(1)).as("tok_rows"))
    val joinRow = rawJoin.crossJoin(broadcast(tokJoin))
      .select(lit("join_orders_customer").as("scope"),
        $"raw_rows".as("n_rows"), $"tok_rows".as("n_distinct_in"),
        $"raw_keys".as("n_distinct_out"),
        ($"tok_rows" - $"raw_rows").as("n_collisions"))
    colAudit("customer.c_custkey", cust)
      .unionByName(colAudit("orders.o_custkey", ords))
      .unionByName(joinRow)
      .orderBy($"scope")
  }

  /** X40 — PII redaction: the scrub pass every shareable corpus runs —
    * emails, IPv4 addresses, long digit runs (phone/account-shaped) each
    * detected, counted, and replaced with a typed mask token, in a fixed
    * order (email → ip → number) so the passes compose deterministically.
    *
    * The corpus is synthetic and PII-free, so the query plants
    * deterministic PII derived from doc_id (same derivation in the oracle)
    * and then redacts it — the detector runs against known ground truth:
    * every doc must yield exactly 1 email, 1 ip, 1 long number.
    *
    * Scale: three codegen'd regexp passes + a fingerprint — narrow map at
    * scan throughput, zero shuffles; the redacted-text fingerprint lets a
    * downstream audit verify the scrub without re-reading the corpus. */
  def q81PiiRedact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    docs(s, dir)
      .withColumn("pii_text", concat(
        coalesce($"text", lit("")), lit(" contact user"), $"doc_id",
        lit("@mail.example.com via 10.0."), $"doc_id" % 256,
        lit("."), $"doc_id" % 100,
        lit(" ref "), $"doc_id" * 1000003L + 1000007L))
      // patterns go through the Scala API (lit), never expr() — Spark SQL
      // string literals eat backslashes, the Column API does not
      .withColumn("n_emails",
        size(regexp_extract_all($"pii_text", lit(EmailRe), lit(0))).cast("long"))
      .withColumn("r1", regexp_replace($"pii_text", EmailRe, "[EMAIL]"))
      .withColumn("n_ips",
        size(regexp_extract_all($"r1", lit(IpRe), lit(0))).cast("long"))
      .withColumn("r2", regexp_replace($"r1", IpRe, "[IP]"))
      .withColumn("n_longnums",
        size(regexp_extract_all($"r2", lit(NumRe), lit(0))).cast("long"))
      .withColumn("redacted", regexp_replace($"r2", NumRe, "[NUM]"))
      .select($"doc_id", $"n_emails", $"n_ips", $"n_longnums",
        length($"redacted").cast("long").as("redacted_chars"),
        expr("graft_fingerprint(redacted)").as("redacted_fp"))
      .orderBy($"doc_id")
  }

  /** THE mixture-weight frame (lang, n_docs, n_tokens, w_sqrt, weight_ppm)
    * from a doc-level (lang, n_toks) projection: one definition shared by
    * the q82 report and the q133 curriculum interleave that consumes the
    * weights — the schedule must interleave by the weights actually
    * reported, so the two can never drift. Taking the projection (rather
    * than raw documents) lets q133 feed it from an already-tokenized
    * frame instead of re-scanning the corpus text.
    *
    * floor(sqrt(bigint)) is safe cross-engine: IEEE-754 sqrt is correctly
    * rounded, floor makes it integral, and DuckDB's round-on-cast equals
    * truncation on integral doubles. */
  private[graft] def mixtureWeights(tokens: DataFrame): DataFrame =
    tokens.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"))
      .withColumn("w_sqrt", floor(sqrt(col("n_tokens"))).cast("long"))
      .withColumn("weight_ppm",
        expr("w_sqrt * 1000000 div sum(w_sqrt) over ()"))

  /** X41 — temperature-based mixture reweighting: per-language sampling
    * weights ∝ n_tokens^(1/2) (the multilingual-training upweighting that
    * keeps head languages from drowning the tail), expressed in integer
    * parts-per-million so the weights are hash-exact ([[mixtureWeights]]
    * holds the shared formula).
    *
    * Scale: one combinable groupBy to language-level (output is
    * vocabulary-of-languages sized — driver-tiny), then an empty-window
    * normalization over that tiny frame. The 100 TB input is touched once. */
  def q82LangMixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mixtureWeights(docs(s, dir)
        .select($"lang", size(split($"text", " ")).cast("long").as("n_toks")))
      .orderBy($"lang")
  }

  /** X218 — token-budget epoch planner: given a training budget (half
    * the corpus's tokens — data-derived, deterministic), the per-language
    * token quota under X41's shared sqrt-token mixture weights and the
    * resulting EPOCH count in permille — the "how many times will
    * training repeat each source" answer X41/X118 stop short of
    * (weights say proportions; this says repetitions: epochs > 1000
    * permille flags languages whose data the budget forces to repeat).
    *
    * Exactness at scale: quota = floor(B·w/1e6) and epochs =
    * floor(quota·1000/n) are computed in SPLIT form
    * ((B div 1e6)·w + ((B mod 1e6)·w) div 1e6 — algebraically identical
    * for positive int64, no B·1e6 overflow at corpus token counts);
    * permille (not ppm) keeps the remainder product under int64 for
    * per-language token counts up to ~9·10^15.
    *
    * Scale: one combinable fold to the language frame (driver-tiny);
    * the budget is an empty-window sum over that frame ([[q82LangMixture]]'s
    * idiom). The corpus is touched once. */
  def q250EpochPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mixtureWeights(docs(s, dir)
        .select($"lang", size(split($"text", " ")).cast("long").as("n_toks")))
      .withColumn("budget", expr("sum(n_tokens) over () div 2"))
      .withColumn("quota_tokens", expr(
        "(budget div 1000000) * weight_ppm + " +
          "((budget % 1000000) * weight_ppm) div 1000000"))
      .withColumn("epochs_permille", expr(
        "(quota_tokens div n_tokens) * 1000 + " +
          "((quota_tokens % n_tokens) * 1000) div n_tokens"))
      .withColumn("repeats_data",
        when($"epochs_permille" > 1000L, 1L).otherwise(0L))
      .select($"lang", $"n_docs", $"n_tokens", $"weight_ppm",
        $"quota_tokens", $"epochs_permille", $"repeats_data")
      .orderBy($"lang")
  }

  /** X42 — deterministic global shuffle + shard assignment: the "shuffle
    * the corpus, write N shards" step before training. Shard membership and
    * intra-shard position both derive from a portable content fingerprint,
    * so the layout is replayable from any engine — no RNG state, no
    * sampleless `repartition(N)` round-robin that changes under retries.
    *
    * Scale: shard = fp % 16 IS the hash partitioning (write-side
    * `repartition(shard)` colocates each shard); position is a row_number
    * within shard only — per-partition sort, never a global one. */
  def q83ShardAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val w = Window.partitionBy($"shard").orderBy($"fp", $"doc_id")
    docs(s, dir)
      .select($"doc_id",
        expr("graft_fingerprint(concat(CAST(doc_id AS STRING), ':', coalesce(text, '')))")
          .as("fp"))
      .withColumn("shard", $"fp" % 16)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select($"doc_id", $"fp", $"shard", $"pos")
      .orderBy($"doc_id")
  }

  /** X43 — inverted-index build: term → sorted posting list + document
    * frequency, the retrieval-side structure (BM25 / dedup-audit lookups)
    * built from the same explode the DF statistics already use. Postings
    * are emitted as comma-joined strings so the gate can hash them.
    *
    * Scale: one (term, doc) distinct-shuffle, one term-level agg —
    * both combinable; the df >= 5 gate bounds posting-list width and the
    * head-100 cap is driver-side top-k, not a global sort of the index. */
  def q84InvertedIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .filter($"term" =!= "")
      .distinct()
      .groupBy($"term")
      .agg(count(lit(1)).as("df"),
        array_join(
          transform(sort_array(collect_set($"doc_id")),
            x => x.cast("string")), ",").as("postings"))
      .filter($"df" >= 5)
      .orderBy($"df".desc, $"term")
      .limit(100)
  }

  /** X44 — z-order (Morton-curve) layout audit: interleave the bits of two
    * query dimensions (customer key, order date) into one sort key, cut the
    * curve into 32 equal file-sized buckets, and report each bucket's
    * extent in BOTH dimensions — the min/max column stats a parquet footer
    * would carry, i.e. exactly what makes 2-D predicate data skipping work
    * after a single 1-D layout pass.
    *
    * Scale: production form is `repartitionByRange(zval)` +
    * `sortWithinPartitions(zval)` + write; one range shuffle total. The
    * rank that cuts the curve into equal buckets comes from
    * [[graft.operators.GlobalOrder]] — the distributed two-phase
    * row_number — NOT an unpartitioned window, which would collapse the
    * whole table into one sort task. The audit adds only a bucket-level
    * agg (32 rows). The bit interleave is a codegen'd HOF over a
    * 16-literal sequence — narrow map. */
  def q85ZorderLayout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.load(s, dir, "orders")
      .select($"o_orderkey",
        ($"o_custkey" % 65536L).as("x"),
        (datediff($"o_orderdate", lit("1992-01-01")).cast("long") % 65536L).as("y"))
      .withColumn("zval", expr(
        """aggregate(sequence(0, 15), 0L,
          |  (acc, i) -> acc + shiftleft(shiftright(x, i) & 1, 2 * i)
          |                  + shiftleft(shiftright(y, i) & 1, 2 * i + 1))""".stripMargin))
    val (numbered, total) = graft.operators.GlobalOrder
      .withRowNumberAndTotal(base, Seq($"zval", $"o_orderkey"), "rn")
    numbered
      .withColumn("bucket", expr(s"(rn - 1) * 32 div ${total}L"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_rows"),
        min($"x").as("x_min"), max($"x").as("x_max"),
        min($"y").as("y_min"), max($"y").as("y_max"),
        min($"zval").as("z_min"), max($"zval").as("z_max"))
      .orderBy($"bucket")
  }

  /** X265 — sort-layout sweep / min-max skipping effectiveness: X44 lays
    * the table out in ONE order; this is the decision tool that says
    * WHICH order to ship — for each candidate layout (write order,
    * date-sorted, customer-sorted, z-order and Hilbert order over both),
    * tile the table into 64 equal files, record per-file (min, max) zone
    * maps of the probe columns, and measure how many files each of three
    * predicate shapes (date range, key range, conjunction) must read
    * under standard min-max skipping — against the predicate's TRUE row
    * selectivity. The verdict pattern engines live by: a single-column
    * sort prunes its own column to ~selectivity and does nothing for the
    * other; z-order pays a little on each to serve both; Hilbert (the
    * published integer xy2d transform) preserves locality strictly
    * better than Morton in the worst case — the sweep exists precisely
    * to measure that folklore on this table's zone maps.
    *
    * Scale: per layout ONE GlobalOrder range shuffle (the same shuffle
    * the actual write would pay) + a 64-row zone-map aggregate;
    * predicate evaluation touches only the zone maps — the exact
    * mechanic parquet row-group skipping uses, surfaced as a measured
    * comparison instead of folklore. */
  def q294LayoutSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // base feeds 6 consumers (the selectivity fold + one GlobalOrder
    // pass per layout) — persist once so each layout's range shuffle
    // reads the computed frame instead of re-deriving the scan + the
    // Morton/Hilbert folds (6.4 s un-persisted → 4.9 s at sf0.1; the
    // rest is the five deliberate write-shaped range shuffles);
    // released after the report collects
    val base = Tables.load(s, dir, "orders")
      .select($"o_orderkey".cast("long").as("okey"),
        $"o_custkey".cast("long").as("ckey"),
        datediff($"o_orderdate", lit("1992-01-01")).cast("long").as("day"))
      .withColumn("zval", expr(
        """aggregate(sequence(0, 15), 0L,
          |  (acc, i) -> acc + shiftleft(shiftright(ckey % 65536, i) & 1, 2 * i)
          |    + shiftleft(shiftright(day % 65536, i) & 1, 2 * i + 1))"""
          .stripMargin))
      // published integer Hilbert xy2d (the classic MSB-first
      // rotate/flip loop) as ONE sequential fold with struct state —
      // NOT 16 chained withColumns, which would collapse into a single
      // projection and double the inlined expression tree per level
      // (the q235 trap, here 2^16-fold). The DuckDB oracle unrolls the
      // same recurrence as 16 chained CTEs instead: its list_reduce
      // mis-vectorizes struct accumulators in multi-row batches
      // (verified against the reference implementation; single-row is
      // correct, 16/64 cells wrong at 8x8).
      .withColumn("hval", expr(
        """aggregate(sequence(15, 0, -1),
          |  named_struct('x', ckey % 65536, 'y', day % 65536,
          |               'd', CAST(0 AS BIGINT)),
          |  (a, i) -> named_struct(
          |    'x', CASE WHEN (shiftright(a.y, i) & 1) = 0
          |      THEN (CASE WHEN (shiftright(a.x, i) & 1) = 1
          |            THEN 65535 - a.y ELSE a.y END)
          |      ELSE a.x END,
          |    'y', CASE WHEN (shiftright(a.y, i) & 1) = 0
          |      THEN (CASE WHEN (shiftright(a.x, i) & 1) = 1
          |            THEN 65535 - a.x ELSE a.x END)
          |      ELSE a.y END,
          |    'd', a.d + shiftleft(CAST(1 AS BIGINT), 2 * i) *
          |      (CASE WHEN (shiftright(a.x, i) & 1) = 0
          |              AND (shiftright(a.y, i) & 1) = 0 THEN CAST(0 AS BIGINT)
          |            WHEN (shiftright(a.x, i) & 1) = 0 THEN CAST(1 AS BIGINT)
          |            WHEN (shiftright(a.y, i) & 1) = 1 THEN CAST(2 AS BIGINT)
          |            ELSE CAST(3 AS BIGINT) END)),
          |  a -> a.d)""".stripMargin))
      .persist()
    val preds = Seq(
      ("p_date", (mnD: Column, mxD: Column, _: Column, _: Column) =>
        !(mxD < 2000L || mnD > 2029L),
        $"day".between(2000L, 2029L)),
      ("p_cust", (_: Column, _: Column, mnC: Column, mxC: Column) =>
        !(mxC < 40L || mnC > 49L),
        $"ckey".between(40L, 49L)),
      ("p_both", (mnD: Column, mxD: Column, mnC: Column, mxC: Column) =>
        !(mxD < 2000L || mnD > 2029L) && !(mxC < 40L || mnC > 49L),
        $"day".between(2000L, 2029L) && $"ckey".between(40L, 49L)))
    try {
    val sel = base.agg(count(lit(1)).as("n"),
      preds.map { case (nm, _, rowPred) =>
        sum(when(rowPred, 1L).otherwise(0L)).as(s"rows_$nm")
      }: _*).collect().head
    val nTotal = sel.getLong(0)
    val layouts = Seq(
      ("1_natural", Seq($"okey")),
      ("2_by_date", Seq($"day", $"okey")),
      ("3_by_cust", Seq($"ckey", $"okey")),
      ("4_zorder", Seq($"zval", $"okey")),
      ("5_hilbert", Seq($"hval", $"okey")))
    val rows = layouts.flatMap { case (lname, order) =>
      val (numbered, total) = graft.operators.GlobalOrder
        .withRowNumberAndTotal(base, order, "rn")
      val zones = numbered
        .withColumn("file", expr(s"(rn - 1) * 64 div ${total}L"))
        .groupBy($"file")
        .agg(min($"day").as("mn_d"), max($"day").as("mx_d"),
          min($"ckey").as("mn_c"), max($"ckey").as("mx_c"))
      val hits = zones.agg(count(lit(1)).as("n_files"),
        preds.map { case (nm, zonePred, _) =>
          sum(when(zonePred($"mn_d", $"mx_d", $"mn_c", $"mx_c"), 1L)
            .otherwise(0L)).as(s"hit_$nm")
        }: _*).collect().head
      preds.zipWithIndex.map { case ((nm, _, _), i) =>
        val nFiles = hits.getLong(0)
        val nHit = hits.getLong(i + 1)
        val nRows = sel.getLong(i + 1)
        org.apache.spark.sql.Row(lname, nm, nFiles, nHit,
          nHit * 1000000L / nFiles, nRows * 1000000L / nTotal)
      }
    }
    import org.apache.spark.sql.types._
    LocalReport.frame(s, rows,
      ("layout", StringType), ("predicate", StringType),
      ("n_files", LongType), ("n_files_hit", LongType),
      ("files_ppm", LongType), ("rows_ppm", LongType))
    } finally base.unpersist(blocking = false)
  }

  /** X266 — sampled-quantile rank-error audit: X53 computes exact global
    * deciles with a full range shuffle; at 100 TB the practical question
    * is whether a deterministic 5% hash sample estimates them well
    * enough to skip that pass — and by HOW MUCH the ranks are off. Per
    * decile: the exact value (rank ⌈dN/10⌉ over the full column), the
    * sample's estimate (same rank rule over the sample), the estimate's
    * TRUE rank in the full data (one broadcast conditional fold), and
    * the signed rank error in ppm — the measured answer to "sample or
    * sort?", with the √(1/m) theory line to judge it against. Sampling
    * hashes the row content through the middle-square finalizer
    * (duplicate rows sample together — deterministic on both engines,
    * and harmless to VALUE-rank queries since ties share the value).
    *
    * Scale: the sample leg's sort is 5% of the full pass (the point);
    * the exact leg exists only because the audit reports error; the
    * true-rank probe broadcasts 9 values into ONE conditional fold.
    * Value-at-rank is well defined under duplicate values, so no
    * tie-break determinism is needed anywhere. */
  def q295SampleQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val c = Tables.load(s, dir, "lineitem")
      .select($"l_orderkey".cast("long").as("okey"),
        $"l_linenumber".cast("long").as("line"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"))
      .withColumn("fp", expr(
        """graft_fingerprint(concat(CAST(okey AS STRING), ':',
          |  CAST(line AS STRING), ':', CAST(c AS STRING)))""".stripMargin))
      .select($"c", expr("(fp * fp div 65536) % 100 < 5").as("in_sample"))
      .persist()
    try {
      val n = c.count()
      val m = c.filter($"in_sample").count()
      def atRanks(df: DataFrame, total: Long): Map[Long, Long] = {
        val ranks = (1L to 9L).map(d => math.max(1L, d * total / 10L))
        val numbered = graft.operators.GlobalOrder
          .withRowNumber(df.select($"c"), Seq($"c"), "rk")
        numbered.filter($"rk".isin(ranks: _*))
          .select($"rk", $"c").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap match {
            case byRank => (1L to 9L).map(d =>
              d -> byRank(math.max(1L, d * total / 10L))).toMap
          }
      }
      val exact = atRanks(c, n)
      val sample = atRanks(c.filter($"in_sample"), m)
      val rankAggs = (1L to 9L).map(d =>
        sum(when($"c" <= sample(d), 1L).otherwise(0L)).as(s"r$d"))
      val trueRanks = c.agg(rankAggs.head, rankAggs.tail: _*)
        .collect().head
      import org.apache.spark.sql.types._
      LocalReport.frame(s, (1L to 9L).map { d =>
        val tr = trueRanks.getLong((d - 1).toInt)
        org.apache.spark.sql.Row(d, exact(d), sample(d),
          tr * 1000000L / n, tr * 1000000L / n - d * 100000L)
      },
        ("decile", LongType), ("exact_value", LongType),
        ("sample_value", LongType), ("sample_rank_ppm", LongType),
        ("err_ppm", LongType))
    } finally c.unpersist(blocking = false)
  }

  /** X45 — exact-quantile length trimming: drop each language's shortest
    * 5% and longest 5% of documents (the outlier trim before packing).
    * Rank-based with pure integer comparisons (20·rk > n keeps P5..P95) —
    * no interpolated quantile, so the cut is hash-exact cross-engine.
    *
    * Scale: one shuffle by language; rank + count share the partitioning.
    * At 100 TB a head language's partition is large but the sort is
    * spill-safe and the alternative (exact global quantiles) needs the
    * same sort; approx trimming would swap in percentile_approx (q60's
    * envelope pattern) when exactness is not required. */
  def q86QuantileTrim(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wRank = Window.partitionBy($"lang").orderBy($"n_tokens", $"doc_id")
    val wN = Window.partitionBy($"lang")
    docs(s, dir)
      .select($"doc_id", $"lang",
        size(split($"text", " ")).cast("long").as("n_tokens"))
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("keep", $"rk" * 20 > $"n" && $"rk" * 20 <= $"n" * 19)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_total"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
        min(when($"keep", $"n_tokens")).as("kept_min_tokens"),
        max(when($"keep", $"n_tokens")).as("kept_max_tokens"),
        sum(when($"keep", $"n_tokens")).as("kept_sum_tokens"))
      .orderBy($"lang")
  }

  /** X47 — PMI-style collocation mining: corpus-wide bigram lift —
    * observed bigram frequency vs the unigram-independence expectation —
    * the phrase/tokenizer-vocabulary signal. Lift is kept in integer
    * parts-per-trillion (n_ab·10^12 div n_a·n_b) so ranking is hash-exact;
    * the log (true PMI) is monotone in it, so the top-k is the same set.
    * Integer headroom: safe while n_ab < 9·10^6; a 100 TB corpus switches
    * the SCORE (not the counts) to doubles, or rescales the constant.
    *
    * Scale: one bigram shuffle + one unigram shuffle (both map-side
    * combinable); unigram counts for the n_ab >= 5 survivors are
    * vocabulary-sized → both joins broadcast. No corpus-sized join. */
  def q87Collocations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = docs(s, dir)
      .select($"doc_id", split($"text", " ").as("ws"))
      .filter(size($"ws") >= 2)
    // the two broadcast joins below are differently-projected subtrees, so
    // exchange reuse does NOT canonicalize them together — persist the
    // vocabulary-sized aggregate once or the corpus is scanned and the
    // unigram shuffle run once per join; released in the finally (the
    // q123 collect-then-unpersist idiom — the result is 50 rows)
    val uni = words.select(explode($"ws").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("n_w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val bi = words
        .select(explode(expr(
          "transform(sequence(1, size(ws) - 1), i -> named_struct('a', element_at(ws, i), 'b', element_at(ws, i + 1)))"))
          .as("g"))
        .select($"g.a".as("a"), $"g.b".as("b"))
        .groupBy($"a", $"b").agg(count(lit(1)).as("n_ab"))
        .filter($"n_ab" >= 5)
      val rows = bi
        .join(broadcast(uni.withColumnRenamed("w", "a").withColumnRenamed("n_w", "n_a")), Seq("a"))
        .join(broadcast(uni.withColumnRenamed("w", "b").withColumnRenamed("n_w", "n_b")), Seq("b"))
        .withColumn("lift_ppt", expr("n_ab * 1000000000000 div (n_a * n_b)"))
        .select($"a", $"b", $"n_ab", $"n_a", $"n_b", $"lift_ppt")
        .orderBy($"lift_ppt".desc, $"a", $"b")
        .limit(50)
        .collect().toSeq
      import org.apache.spark.sql.types._
      LocalReport.frame(s, rows,
        ("a", StringType),
        ("b", StringType),
        ("n_ab", LongType),
        ("n_a", LongType),
        ("n_b", LongType),
        ("lift_ppt", LongType))
    } finally uni.unpersist(blocking = false)
  }

  /** X48 — stratified train/val/test split: per language, 5% test / 5%
    * val / 90% train, with membership decided by rank over the portable
    * content fingerprint — a replayable pseudo-random split (no RNG
    * state, stable under retries and engine changes), stratified exactly.
    *
    * Scale: one shuffle by language (rank + count share it), then a
    * tiny (lang × split) agg. Split thresholds are integer rank bands,
    * so the assignment is hash-exact cross-engine. */
  def q88StratifiedSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val wRank = Window.partitionBy($"lang").orderBy($"fp", $"doc_id")
    val wN = Window.partitionBy($"lang")
    docs(s, dir)
      .select($"doc_id", $"lang",
        size(split($"text", " ")).cast("long").as("n_tokens"),
        expr("graft_fingerprint(concat(coalesce(text, ''), '#', CAST(doc_id AS STRING)))").as("fp"))
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("split",
        when($"rk" * 20 <= $"n", "test")
          .when($"rk" * 20 <= $"n" * 2, "val")
          .otherwise("train"))
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens"),
        min($"doc_id").as("min_doc_id"))
      .orderBy($"lang", $"split")
  }

  /** X49 — small-file compaction planner: per source stream, lay documents
    * end-to-end in doc_id order and cut output files every 256 KB — the
    * "compact a million tiny objects into scan-sized files" maintenance
    * job every long-lived lake runs. Same cumulative-offset shape as q80
    * (one running-sum window per source), emitting the per-file manifest:
    * file sequence number, doc count, byte count.
    *
    * Scale: one shuffle keyed by source; file assignment is integer math
    * on the cumulative byte offsets — no second pass. A real compactor
    * follows with `repartition(file_id)` + write, both narrow. */
  def q89CompactionPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val target = 262144L // 256 KB
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, dir)
      .select($"doc_id", $"source",
        coalesce(length($"text"), lit(0)).cast("long").as("n_bytes"))
      .withColumn("end_byte", sum($"n_bytes").over(w))
      .withColumn("file_seq", expr(s"(end_byte - 1) div $target"))
      .groupBy($"source", $"file_seq")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_bytes").as("n_bytes"),
        min($"doc_id").as("first_doc_id"),
        max($"doc_id").as("last_doc_id"))
      .orderBy($"source", $"file_seq")
  }

  /** X50 — join-key skew audit: the pre-flight diagnosis that decides
    * between a plain shuffle join, salting (q72's rewrite), and AQE skew
    * splitting — per candidate key column, the heaviest keys and their
    * corpus share in integer ppm, plus how many rows the top key would
    * put in ONE reducer task.
    *
    * Scale: one combinable count-shuffle per audited key; the heavy-key
    * frames are top-k-sized. This is the measurement step the 100 TB
    * runbook runs BEFORE choosing a join strategy — measure, don't
    * guess. */
  def q90SkewAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.load(s, dir, "lineitem")
    // global total as a broadcast 1-row aggregate — NOT a sum-over-()
    // window on the counts frame, which would collapse the key-cardinality
    // frame (millions of keys at scale) into one task
    val totalDf = li.agg(count(lit(1)).as("total"))
    def audit(keyCol: String): DataFrame =
      li.groupBy(col(keyCol).cast("long").as("key"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy($"n_rows".desc, $"key")
        .limit(5)
        .crossJoin(broadcast(totalDf))
        .select(lit(keyCol).as("key_col"), $"key", $"n_rows",
          expr("n_rows * 1000000 div total").as("share_ppm"))
    audit("l_suppkey").unionAll(audit("l_partkey"))
      .orderBy($"key_col", $"n_rows".desc, $"key")
  }

  /** X53 — exact global deciles: corpus-wide token-length decile table —
    * the exact-quantile report a curation run publishes (P10/P50/P90
    * length cuts for filter thresholds). Rank-based, so hash-exact.
    *
    * Second consumer of [[graft.operators.GlobalOrder]]: the global rank
    * comes from the distributed two-phase row_number (range shuffle +
    * broadcast offsets), NEVER an unpartitioned window — this is the
    * operator q86's per-group trim generalizes from when the grouping
    * dimension disappears and the whole corpus is one ordered stream. */
  def q91GlobalDeciles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = docs(s, dir)
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_tokens"))
    val (numbered, total) = graft.operators.GlobalOrder
      .withRowNumberAndTotal(base, Seq($"n_tokens", $"doc_id"), "rn")
    numbered
      .withColumn("decile", expr(s"(rn - 1) * 10 div ${total}L"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_docs"),
        min($"n_tokens").as("min_tokens"),
        max($"n_tokens").as("max_tokens"),
        sum($"n_tokens").as("sum_tokens"))
      .orderBy($"decile")
  }

  /** X54 — incremental batch-vs-corpus dedup: "dedupe the new crawl
    * against the existing corpus" — the standing-corpus form of q33's
    * pairwise dedup. Docs with doc_id % 5 == 0 stand in for the new
    * batch; each is checked for (a) an exact content twin and (b) a
    * word-set Jaccard >= 0.8 near-dup in the existing corpus.
    *
    * Scale: the exact pass is a broadcast-able md5 semi-join keyed on a
    * uniform hash; the near pass joins ONLY batch×corpus within lang
    * blocks (never corpus×corpus — the quadratic term has batch size as
    * one factor, the incremental win). Merge-count intersection on
    * sorted arrays; size-ratio prefilter exact for J >= 0.8. */
  def q92IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.SortedIntersectSize.register(s)
    val d = docs(s, dir).select($"doc_id", $"lang", $"text",
      array_sort(array_distinct(split($"text", " "))).as("ws"))
    val batch = d.filter($"doc_id" % 5 === 0)
    val corpus = d.filter($"doc_id" % 5 =!= 0)
    val exact = batch.select($"doc_id", md5($"text").as("h"))
      .join(corpus.select(md5($"text").as("h")).distinct(), Seq("h"), "left_semi")
      .select($"doc_id").withColumn("dup_exact", lit(true))
    // lang has a handful of values — a bare lang join would land the
    // whole batch×corpus comparison on |langs| reducers at any cluster
    // size; the shared salting (q33's) spreads it to |langs|·SALTS
    val near = DedupOps.saltLeft(
        batch.select($"doc_id", $"lang", $"ws".as("wa")), "doc_id")
      .join(DedupOps.replicateRight(
        corpus.select($"lang", $"ws".as("wb"))), Seq("lang", "salt"))
      .filter(size($"wa") * 5 >= size($"wb") * 4 &&
        size($"wb") * 5 >= size($"wa") * 4)
      .withColumn("inter_n", expr("graft_sorted_inter_n(wa, wb)"))
      .filter($"inter_n" * 10 >=
        (size($"wa") + size($"wb") - $"inter_n") * 8)
      .groupBy($"doc_id").agg(count(lit(1)).as("n_near_dups"))
    batch.select($"doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"dup_exact", lit(false)).as("dup_exact"),
        coalesce($"n_near_dups", lit(0L)).as("n_near_dups"))
      .orderBy($"doc_id")
  }

  /** X55 — int8 embedding quantization audit: per-vector max-abs scaling
    * to int8 (the storage/serving compression every large embedding store
    * applies), reporting the quantized-magnitude checksum and the exact
    * reconstruction error. The sequential-fold error sum is IEEE-exact
    * cross-engine (q37's cosine precedent), and round() is half-away in
    * both engines, so even the double column hash-matches.
    *
    * Scale: entirely narrow — two HOF passes per row (scale, then
    * quantize+error), no shuffle but the final orderBy. */
  def q93QuantizeAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("scale", expr(
        "aggregate(v, 0D, (m, x) -> greatest(m, abs(x))) / 127D"))
      .filter($"scale" > 0)
      .withColumn("q", expr(
        "transform(v, x -> CAST(round(x / scale) AS BIGINT))"))
      .select($"vec_id",
        size($"v").cast("long").as("n_dims"),
        expr("aggregate(q, 0L, (a, x) -> a + abs(x))").as("abs_q_sum"),
        expr("aggregate(q, 0L, (a, x) -> a + IF(abs(x) = 127, 1L, 0L))")
          .as("n_saturated"),
        expr("""aggregate(zip_with(v, q, (x, qx) -> (x - qx * scale) * (x - qx * scale)),
               |0D, (a, e) -> a + e)""".stripMargin).as("sq_err"))
      .orderBy($"vec_id")
  }

  /** X56 — duplicated 5-gram coverage: per document, how many of its
    * 5-gram POSITIONS (occurrence-weighted, not distinct) are duplicated
    * somewhere else in the corpus — the RefinedWeb-style triage signal
    * between exact dedup (whole doc) and chunk dedup (q77, paragraph):
    * high coverage with no exact twin means templated/boilerplate text.
    *
    * Scale: gram table and per-position join both key on the portable
    * gram fingerprint — uniform, corpus-sized, ONE honest shuffle each
    * with the exchange reused between the count and the join (q77's
    * pattern, finer granularity). Coverage is integer ppm. */
  def q94DupGramCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val grams = docs(s, dir)
      .selectExpr("doc_id", "split(text, ' ') AS ws")
      .where("size(ws) >= 5")
      .selectExpr("doc_id", s"explode(${TextGrams.fpArrayExpr(5)}) AS g")
    val docsPerGram = grams.select($"doc_id", $"g").distinct()
      .groupBy($"g").agg(count(lit(1)).as("n_docs_with"))
    grams
      .join(docsPerGram, Seq("g"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_gram_positions"),
        sum(when($"n_docs_with" > 1, 1L).otherwise(0L)).as("n_dup_positions"))
      .withColumn("dup_coverage_ppm",
        expr("n_dup_positions * 1000000 div n_gram_positions"))
      .orderBy($"doc_id")
  }

  /** X57 — embedding-coverage audit: join the text corpus to the
    * embedding store (doc_id = vec_id) and report, per language, how much
    * of the corpus is actually embedded and how long the covered vs
    * uncovered documents are — the completeness check before any
    * embedding-dependent stage (q36/q37/q56) runs, so missing coverage
    * surfaces as a report instead of silently shrunken join output.
    *
    * Scale: full outer semantics via one left join; the embedding side
    * projects to its key ONLY (no vector payloads move), so the shuffle
    * carries 8 bytes/row. One combinable lang agg after. */
  def q95EmbedCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
      .select($"vec_id".as("doc_id")).distinct()
      .withColumn("has_emb", lit(1L))
    docs(s, dir)
      .select($"doc_id", $"lang",
        size(split($"text", " ")).cast("long").as("n_tokens"))
      .join(emb, Seq("doc_id"), "left")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce($"has_emb", lit(0L))).as("n_embedded"),
        sum(when($"has_emb".isNotNull, $"n_tokens")).as("embedded_tokens"),
        sum(when($"has_emb".isNull, $"n_tokens")).as("uncovered_tokens"))
      .withColumn("coverage_ppm", expr("n_embedded * 1000000 div n_docs"))
      .orderBy($"lang")
  }

  /** X58 — overlapping chunk split (RAG-style): cut each document into
    * 64-token windows at stride 48 (16-token overlap), emitting the chunk
    * manifest — offsets, length, and a content fingerprint per chunk —
    * the retrieval-indexing complement of q80's training-side packing
    * (q80 lays docs into contexts; this splits docs into windows).
    *
    * Scale: one narrow explode per document (chunk count is
    * ceil((n-64)/48)+1, data grows ~1.33×); the fingerprint rides the
    * same projection. Zero shuffles except the final orderBy. */
  def q96ChunkSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val (win, stride) = (64, 48)
    // chunk count per doc: 1 for n <= win, else ceil((n-win)/stride) + 1 —
    // integer ceil, so the last (short) window starts below n and every
    // token is covered (win > stride guarantees overlap, never a gap)
    docs(s, dir)
      .selectExpr("doc_id", "split(text, ' ') AS ws")
      .selectExpr("doc_id", "ws", "size(ws) AS n_tokens",
        s"""explode(sequence(0,
           |  IF(size(ws) <= $win, 0,
           |     (size(ws) - $win + $stride - 1) div $stride))) AS k""".stripMargin)
      .selectExpr("doc_id", "n_tokens",
        s"CAST(k AS BIGINT) AS chunk_idx",
        s"CAST(k * $stride AS BIGINT) AS start_tok",
        s"CAST(least(n_tokens, k * $stride + $win) AS BIGINT) AS end_tok",
        s"graft_fingerprint(concat_ws(' ', slice(ws, k * $stride + 1, " +
          s"least(n_tokens, k * $stride + $win) - k * $stride))) AS chunk_fp")
      .withColumn("chunk_tokens", $"end_tok" - $"start_tok")
      .select($"doc_id", $"chunk_idx", $"start_tok", $"end_tok",
        $"chunk_tokens", $"chunk_fp")
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** X59 — metadata-vs-classifier agreement matrix: cross-tabulate the
    * corpus's declared `lang` column against q31's stopword-profile
    * prediction — the audit that catches mislabeled metadata (or a broken
    * classifier) before either is trusted downstream for mixture weights
    * (q82) or stratified splits (q88).
    *
    * Scale: the prediction is q31's narrow map; the matrix is one
    * combinable groupBy on a (langs × predictions)-sized key space. */
  def q97LangAgreement(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the predictor IS q31's (TextOps.withLangPrediction) — a drifting
    // copy would make this matrix audit a classifier nobody runs
    TextOps.withLangPrediction(docs(s, dir))
      .groupBy($"lang", $"pred_lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_words".cast("long")).as("n_tokens"))
      // nulls-last so a NULL-lang corpus sorts identically in DuckDB
      .orderBy($"lang".asc_nulls_last, $"pred_lang")
  }

  /** X60 — corpus composition report: the (source × lang) rollup a
    * curation run publishes — doc/token counts and integer-exact quality
    * gate rates at every margin via GROUPING SETS, in one expanded pass
    * (q66's relational machinery applied to the corpus domain).
    *
    * Scale: grouping sets expand each row ~3× before ONE combinable
    * shuffle — still one pass over the corpus, no per-margin re-scans. */
  def q98CorpusReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the gate thresholds sit INSIDE the corpus's length distribution
    // (docs run 10+ tokens / 44+ chars) so both pass and fail classes are
    // populated — a gate that never binds audits nothing
    val base = docs(s, dir)
      .select($"source", $"lang",
        size(split($"text", " ")).cast("long").as("n_tokens"),
        length($"text").cast("long").as("n_chars"))
      .withColumn("passes", ($"n_tokens" >= 12 && $"n_chars" >= 50).cast("long"))
    // Dataset.groupingSets (no temp-view side effect — a shared view name
    // would race Verify's concurrent submitters); grouping() disambiguates
    // the rollup margin from a NULL data value
    base.groupingSets(
        Seq(Seq($"source", $"lang"), Seq($"source"), Seq($"lang"), Seq()),
        $"source", $"lang")
      .agg(grouping($"source").as("g_src"), grouping($"lang").as("g_lang"),
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens"),
        sum($"passes").as("n_pass"),
        expr("sum(passes) * 1000000 div count(1)").as("pass_ppm"))
      .select(
        when($"g_src" === 1, lit("(all)"))
          .otherwise(coalesce($"source", lit("(null)"))).as("source"),
        when($"g_lang" === 1, lit("(all)"))
          .otherwise(coalesce($"lang", lit("(null)"))).as("lang"),
        $"n_docs", $"n_tokens", $"n_pass", $"pass_ppm")
      .orderBy($"source", $"lang")
  }

  /** X71 — k-anonymity audit over quasi-identifiers: group sizes for the
    * (nation, market-segment) identifier combination, each group's
    * re-identification risk in integer ppm, and the suppress/publish
    * verdict at k=5 — the privacy-governance gate a training-data release
    * runs before shipping user-derived tables.
    *
    * ONE combinable shuffle on the quasi-identifier key; the frame after
    * aggregation is identifier-cardinality-sized (tiny), so the audit
    * costs a scan regardless of table size. */
  def q108KanonAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 5L
    Tables.load(s, dir, "customer")
      .groupBy($"c_nationkey".cast("long").as("nationkey"), $"c_mktsegment".as("segment"))
      .agg(count(lit(1)).as("n_members"))
      .select($"nationkey", $"segment", $"n_members",
        expr("1000000 div n_members").as("risk_ppm"),
        when($"n_members" < k, lit("suppress")).otherwise(lit("publish")).as("verdict"))
      .orderBy($"nationkey", $"segment")
  }

  /** X67 — hive-partitioned layout + partition-pruned read-back: events are
    * written `partitionBy(event_type)` and re-read with an equality filter,
    * which Spark satisfies from DIRECTORY listing (PartitionFilters), never
    * opening a non-matching file — the layout-level complement to q59's
    * bucketing and the reason a 100 TB store keys its directories on the
    * dominant filter column. The pruning is asserted on the physical plan
    * in AnalyticsOpsSpec; this query returns the pruned-side aggregate the
    * oracle replays with a plain WHERE.
    *
    * The tiny post-aggregate result is collected before the temp layout is
    * deleted (the plan must not outlive its input files); at real scale the
    * layout is the durable table and nothing is collected. */
  def q104PartitionPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = graft.sources.Scratch.alloc(s, "graft_layout")
    try {
      // repartition on the layout key first: without it every write task
      // emits a fragment into every partition directory (tasks ×
      // partitions small files — the classic partitionBy mistake); with
      // it each directory gets contiguous, right-sized files. At real
      // scale add maxRecordsPerFile to re-split hot partitions.
      Tables.load(s, dir, "events")
        .repartition(col("event_type"))
        .write.partitionBy("event_type").parquet(s"$tmp/events_by_type")
      val rows = s.read.parquet(s"$tmp/events_by_type")
        .filter($"event_type" === "purchase")
        .select(expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"),
          graft.functions.Exact.cents($"value").as("cents"))
        .groupBy($"day")
        .agg(count(lit(1)).as("n_events"), sum($"cents").as("value_cents"))
        .orderBy($"day")
        .collect().toSeq
      LocalReport.frame(s, rows,
        ("day", org.apache.spark.sql.types.LongType),
        ("n_events", org.apache.spark.sql.types.LongType),
        ("value_cents", org.apache.spark.sql.types.LongType))
    } finally {
      graft.sources.Scratch.delete(s, tmp)
    }
  }

  /** X81 — ABC / Pareto revenue classification: rank parts by revenue,
    * cut the cumulative share at 80% (class A) and 95% (class B), report
    * per-class part counts and revenue — the inventory-analytics classic,
    * and the canonical "cumulative sum over a total order" workload.
    *
    * Scale: revenue per part is one combinable shuffle; the running sum
    * over the part-cardinality frame uses [[graft.operators.GlobalOrder
    * .withRunningSum]] (range shuffle + broadcast prefix offsets) — NOT an
    * unpartitioned window, which would funnel every part through one task
    * at catalog scale. Cuts are integer comparisons (cum·100 ≤ total·80),
    * exact in every engine. */
  def q116AbcClasses(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = Tables.load(s, dir, "lineitem")
      .select($"l_partkey",
        graft.functions.Exact.cents($"l_extendedprice").as("cents"))
      .groupBy($"l_partkey").agg(sum($"cents").as("revenue_cents"))
    val (ranked, total) = graft.operators.GlobalOrder.withRunningSum(
      rev, Seq($"revenue_cents".desc, $"l_partkey"), "revenue_cents", "cum_cents")
    ranked
      .withColumn("abc_class",
        when($"cum_cents" * 100L <= total * 80L, "A")
          .when($"cum_cents" * 100L <= total * 95L, "B")
          .otherwise("C"))
      .groupBy($"abc_class")
      .agg(count(lit(1)).as("n_parts"),
        sum($"revenue_cents").as("revenue_cents"),
        min($"l_partkey").as("min_partkey"))
      .select($"abc_class", $"n_parts", $"revenue_cents", $"min_partkey",
        expr(s"revenue_cents * 1000000 div ${total}L").as("share_ppm"))
      .orderBy($"abc_class")
  }

  /** X82 — RFM customer segmentation: quartile-band customers on Recency
    * (days since last order), Frequency (order count) and Monetary (total
    * spend), then report segment sizes and revenue — the standard CRM
    * cohorting every warehouse replacing the reference's OLTP pair runs.
    *
    * Scale: each quartile is an integer rank band over a TOTAL order
    * ((rn−1)·4 div n — exact, no ntile remainder ambiguity), computed with
    * [[graft.operators.GlobalOrder.withRowNumberAndTotal]] — three range
    * shuffles over the customer-cardinality frame, never an unpartitioned
    * ntile window funneling every customer through one task. The three
    * band frames re-join on the customer key (dimension-sized), and the
    * final segment frame is ≤4³ rows. */
  def q118RfmSegments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.load(s, dir, "orders")
      .select($"o_custkey",
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
          .as("day"),
        graft.functions.Exact.cents($"o_totalprice").as("cents"))
      .groupBy($"o_custkey")
      .agg(max($"day").as("last_day"), count(lit(1)).as("n_orders"),
        sum($"cents").as("spend_cents"))
    val refDay = base.agg(max($"last_day").as("ref_day")) // 1-row broadcast
    // persisted ONCE across its four consumers (three band rankings + the
    // spend re-join): each GlobalOrder call runs two jobs over its input,
    // so an unpersisted rfm would recompute the orders fold ~7 times
    val rfm = base.crossJoin(broadcast(refDay))
      .select($"o_custkey", ($"ref_day" - $"last_day").as("recency_days"),
        $"n_orders", $"spend_cents")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def band(metric: String, ascending: Boolean, tag: String): DataFrame = {
      val m = col(metric)
      val sort = if (ascending) Seq(m, $"o_custkey") else Seq(m.desc, $"o_custkey")
      // project to (key, metric) BEFORE ranking: the range shuffle moves
      // two columns, not the whole frame
      val (ranked, n) = graft.operators.GlobalOrder.withRowNumberAndTotal(
        rfm.select($"o_custkey", m), sort, "rn")
      ranked.selectExpr("o_custkey", s"'$tag' AS which",
        s"(rn - 1) * 4 div ${n}L + 1 AS band")
    }
    try {
      // recency: smaller is better (ascending); frequency/monetary: larger
      // is better (descending) — quartile 1 is always the best customers.
      // The three band frames UNION into one (key, which, band) stream and
      // pivot in a single per-customer aggregation — structurally one
      // shuffle where the previous three-way equi-join of RDD-bridged rank
      // frames sort-merged per leg. Quiet sf0.1 wall time is UNCHANGED
      // (~2.9 s either way, r13 measured): the floor is fixed job overhead
      // — three GlobalOrder passes cost ~0.7 s each in a fresh session
      // regardless of shape (q329's two passes ≈ 1.7 s, q91's one ≈ 0.7 s)
      // — which is exactly the overhead that AMORTIZES at real scale,
      // while the join fan-in this removes would not
      val bands = band("recency_days", ascending = true, "r")
        .unionByName(band("n_orders", ascending = false, "f"))
        .unionByName(band("spend_cents", ascending = false, "m"))
      val rows = bands.groupBy($"o_custkey")
        .agg(max(when($"which" === "r", $"band")).as("r_q"),
          max(when($"which" === "f", $"band")).as("f_q"),
          max(when($"which" === "m", $"band")).as("m_q"))
        .join(rfm.select($"o_custkey", $"spend_cents"), Seq("o_custkey"))
        .groupBy($"r_q", $"f_q", $"m_q")
        .agg(count(lit(1)).as("n_customers"),
          sum($"spend_cents").as("segment_cents"))
        .orderBy($"r_q", $"f_q", $"m_q")
        .collect().toSeq // ≤4³ rows — q123 collect-then-unpersist idiom
      import org.apache.spark.sql.types._
      LocalReport.frame(s, rows,
        ("r_q", LongType),
        ("f_q", LongType),
        ("m_q", LongType),
        ("n_customers", LongType),
        ("segment_cents", LongType))
    } finally rfm.unpersist(blocking = false)
  }

  /** X91 — deterministic negative-pair sampling for contrastive training
    * data: for every anchor document, k pseudo-random negatives drawn by
    * fingerprint-derived rank offsets — replayable under retries (no RNG,
    * the offset IS a function of (doc_id, k)), never self-pairing (offsets
    * are in [1, N−1]), and uniform-ish over the corpus. The same/cross-
    * language flag labels the "easy negative" stratum contrastive
    * curricula care about.
    *
    * Scale: ranks come from [[graft.operators.GlobalOrder]] (range
    * shuffle, no single-task window); the negative lookup is ONE
    * equi-join on the computed rank — the corpus never cross-joins
    * itself, and k multiplies rows narrowly before the join. */
  def q126NegativePairs(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val d = Tables.load(s, dir, "documents").select($"doc_id", $"lang")
    val (ranked, n) = graft.operators.GlobalOrder.withRowNumberAndTotal(
      d, Seq($"doc_id"), "rn")
    val anchors = ranked
      .select($"doc_id", $"lang", $"rn",
        explode(expr(s"sequence(1, $k)")).as("k"))
      // square the hash mod p before reducing: the raw polynomial hash of
      // "d:1","d:2","d:3" differs only in the last byte, which would hand
      // every anchor a run of CONSECUTIVE negatives; squaring avalanches
      // (fp < 2^30, so fp² fits int64 in every engine)
      .withColumn("f", expr(
        "graft_fingerprint(concat(cast(doc_id as string), ':', cast(k as string)))"))
      .withColumn("off", expr(s"1 + pmod(f * f % 1000000007, ${n - 1}L)"))
      .withColumn("neg_rn", expr(s"pmod(rn - 1 + off, ${n}L) + 1"))
    anchors.join(
        ranked.select($"rn".as("neg_rn"), $"doc_id".as("neg_doc_id"),
          $"lang".as("neg_lang")),
        Seq("neg_rn"))
      .select($"doc_id", $"k".cast("long").as("k"), $"neg_doc_id", $"neg_lang",
        when($"lang" === $"neg_lang", 1L).otherwise(0L).as("same_lang"))
      .orderBy($"doc_id", $"k")
  }

  /** X90 — l-diversity audit: beyond X71's k-anonymity (group SIZE), each
    * quasi-identifier group must also contain at least l distinct values
    * of the sensitive attribute — a group of 50 people who all share one
    * account balance band leaks the band even though k=50 passes. QI =
    * (nationkey, mktsegment) as in X71; sensitive attribute = the
    * customer's spend band (decile of account balance cents).
    *
    * Scale: ONE combinable shuffle on the QI key computes size and
    * distinct-sensitive-count together (count_distinct partial-aggregates
    * per group); the audited frame is QI-cardinality-sized. */
  def q125LDiversity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = 3L
    Tables.load(s, dir, "customer")
      .select($"c_nationkey".cast("long").as("nationkey"),
        $"c_mktsegment".as("segment"),
        expr("cast(round(c_acctbal * 100) as bigint) div 100000").as("bal_band"))
      .groupBy($"nationkey", $"segment")
      .agg(count(lit(1)).as("n_members"),
        countDistinct($"bal_band").as("n_sensitive"))
      .select($"nationkey", $"segment", $"n_members", $"n_sensitive",
        when($"n_sensitive" < l, lit("diversify")).otherwise(lit("publish"))
          .as("verdict"))
      .orderBy($"nationkey", $"segment")
  }

  /** X242 — t-closeness audit, the privacy ladder's third rung (X71
    * k-anonymity bounds group SIZE, X90 l-diversity bounds sensitive
    * VARIETY, this bounds sensitive DISTRIBUTION): a group can pass both
    * k and l while its balance-band distribution still screams (49 of 50
    * members in the top band) — t-closeness requires each QI class's
    * sensitive distribution to sit within t of the global one. Distance
    * is total variation in integer ppm (the categorical-attribute
    * simplification of the original EMD formulation), with per-band
    * probabilities as integer-div ppm — deterministic on both engines,
    * within |bands| ppm of the real TV.
    *
    * The grid stays SPARSE: a band absent from a class contributes
    * exactly p_b to the TV sum, and Σ_b p_b is a global constant — so
    * tv = (Σ_present (|p_cb − p_b| − p_b) + P_total) div 2, computed
    * from present cells only. No densification join.
    *
    * Scale: ONE corpus-sized (QI, band) aggregate; every later frame is
    * QI- or band-cardinality-sized and broadcasts; the cb subplan
    * recounts per consumer in plan text (q189's rule — AQE reuses the
    * exchange at runtime). */
  def q273TCloseness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tPpm = 200000L
    val cb = Tables.load(s, dir, "customer")
      .select($"c_nationkey".cast("long").as("nationkey"),
        $"c_mktsegment".as("segment"),
        expr("cast(round(c_acctbal * 100) as bigint) div 100000").as("band"))
      .groupBy($"nationkey", $"segment", $"band")
      .agg(count(lit(1)).as("n"))
    val cls = cb.groupBy($"nationkey", $"segment")
      .agg(sum($"n").as("n_members"))
    val bnd = cb.groupBy($"band").agg(sum($"n").as("n_b"))
    val ntot = bnd.agg(sum($"n_b").as("n_tot"))
    val bnd2 = bnd.crossJoin(broadcast(ntot))
      .select($"band", expr("n_b * 1000000 div n_tot").as("p_b_ppm"))
    val ptot = bnd2.agg(sum($"p_b_ppm").as("p_total"))
    cb.join(broadcast(cls), Seq("nationkey", "segment"))
      .join(broadcast(bnd2), Seq("band"))
      .withColumn("term",
        expr("abs(n * 1000000 div n_members - p_b_ppm) - p_b_ppm"))
      .groupBy($"nationkey", $"segment", $"n_members")
      .agg(sum($"term").as("sum_term"))
      .crossJoin(broadcast(ptot))
      .withColumn("tv_ppm", expr("(sum_term + p_total) div 2"))
      .select($"nationkey", $"segment", $"n_members", $"tv_ppm",
        when($"tv_ppm" > tPpm, lit("skewed")).otherwise(lit("publish"))
          .as("verdict"))
      .orderBy($"nationkey", $"segment")
  }

  /** X99 — deterministic weighted curriculum interleave: the exact global
    * reading order a trainer draws when sampling languages proportional to
    * the [[mixtureWeights]] sqrt-token weights — stream s's k-th document
    * is scheduled at virtual time k·10⁶ div weight_ppm(s), and the merged
    * (vtime, lang, doc_id) order IS the curriculum. Replayable end to end:
    * within-stream order is the portable content-fingerprint priority
    * (q61's), weights are integer ppm, no RNG anywhere — a retried run or
    * a different engine draws the identical schedule.
    *
    * Integer envelope: the 10⁶ multiplier leaves rk headroom to ~9.2·10¹²
    * documents per language before the vtime multiply can overflow —
    * beyond any 100 TB corpus (10⁹ would cap at ~9.2·10⁹, reachable).
    * A tail language whose sqrt weight truncates to 0 ppm is clamped to
    * 1 ppm instead of dividing by zero (it schedules last, as it should).
    *
    * Scale: the corpus text is scanned ONCE — the fingerprint + token
    * count ride one narrow projection into the first GlobalOrder pass,
    * and the weights aggregate from that pass's shuffle files (n_toks is
    * 8 bytes/row through the range shuffle), not from a re-scan. Within-
    * language rank is the global rank minus a broadcast per-language
    * offset — never a per-language row_number window funneling each
    * language through one task. The schedule position is a second
    * GlobalOrder pass over the computed vtime. Both are range shuffles
    * with broadcast prefix offsets; offset + weight frames are |langs|
    * rows, broadcast. */
  def q133CurriculumInterleave(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val d = docs(s, dir).select($"lang", $"doc_id",
      expr("graft_fingerprint(concat(coalesce(text, ''), CAST(doc_id AS STRING)))")
        .as("pri"),
      size(split($"text", " ")).cast("long").as("n_toks"))
    val ranked = graft.operators.GlobalOrder.withRowNumber(
      d, Seq($"lang", $"pri", $"doc_id"), "grk")
    // both language-sized frames aggregate from the ranked pass's shuffle
    // files — no second pass over the text column
    val offsets = ranked.groupBy($"lang").agg(min($"grk").as("lang_off"))
    val weights = mixtureWeights(ranked.select($"lang", $"n_toks"))
      .select($"lang", $"weight_ppm")
    val keyed = ranked
      .join(broadcast(offsets), Seq("lang"))
      .join(broadcast(weights), Seq("lang"))
      .withColumn("rk", $"grk" - $"lang_off" + 1L)
      .withColumn("vtime", expr("rk * 1000000 div greatest(weight_ppm, 1L)"))
      .select($"lang", $"doc_id", $"rk", $"vtime")
    graft.operators.GlobalOrder.withRowNumber(
        keyed, Seq($"vtime", $"lang", $"doc_id"), "pos")
      .select($"pos", $"lang", $"doc_id", $"rk", $"vtime")
      .orderBy($"pos")
  }

  /** X249 — portable Bloom filter + measured false-positive rate: X100
    * USES Spark's built-in Bloom sketch as a join runtime filter; this
    * BUILDS one from first principles in portable integer arithmetic
    * (fingerprint-derived hash positions, bit_or-packed 64-bit words) and
    * MEASURES its FPP against a provably-disjoint probe set — the
    * calibration run that tells you what m/k to ship before trusting a
    * runtime filter at 100 TB. Three filters at k = 1, 2, 4 hashes over
    * m = 16384 bits chart the FPP curve; the spec pins each measured rate
    * within 3× of the (1 − e^{−kn/m})^k theory line (loose bound — the
    * measurement is exact, the theory is asymptotic).
    *
    * Scale: the filter is 512 packed words per k — broadcast-sized state built
    * by ONE combinable bit_or aggregate over key-expanded positions; the
    * probe pass joins 4 positions/probe against the tiny filter frame;
    * everything else is |k|-sized. */
  /** q400's anonymity parameter, split rounds, and the balance-cell
    * width (cents div 10⁵ = hundred-dollar bands). */
  private[graft] val MondrianK = 25L
  private[graft] val MondrianRounds = 6
  private[graft] val MondrianCell = 100000L

  /** The ONE Mondrian split rule (stated identically in this driver
    * cut, the unrolled oracle and the spec replay — q389's median-cut
    * rule plus the k-guard): axis = larger coordinate range (ties →
    * x); s_raw = smallest coord with cumulative weight ≥ ⌈W/2⌉,
    * stepped down one coord when it equals the box max; the split is
    * ACCEPTED only if both children keep ≥ k rows, else the box is a
    * finished leaf. `forceAxis` pins the axis (the single-attribute
    * baseline). */
  private[graft] def mondrianSplit(cells: Seq[(Long, Long, Long)], k: Long,
      forceAxis: Option[Int])
      : Option[(Seq[(Long, Long, Long)], Seq[(Long, Long, Long)])] = {
    if (cells.isEmpty) return None
    val rx = cells.map(_._1).max - cells.map(_._1).min
    val ry = cells.map(_._2).max - cells.map(_._2).min
    val ax = forceAxis.getOrElse(if (rx >= ry) 0 else 1)
    def co(c: (Long, Long, Long)): Long = if (ax == 0) c._1 else c._2
    val byCoord = cells.groupBy(co).view.mapValues(_.map(_._3).sum)
      .toSeq.sortBy(_._1)
    if (byCoord.length < 2) return None
    val w = cells.map(_._3).sum
    var cum = 0L
    val sRaw = byCoord.collectFirst {
      case (v, cw) if { cum += cw; cum >= (w + 1L) / 2L } => v
    }.get
    val mx = byCoord.last._1
    val s = if (sRaw == mx) byCoord.map(_._1).filter(_ < mx).max else sRaw
    val (l, r) = cells.partition(co(_) <= s)
    if (l.map(_._3).sum >= k && r.map(_._3).sum >= k) Some((l, r)) else None
  }

  /** X384 — Mondrian multidimensional k-anonymity (LeFevre et al.
    * ICDE 2006): the privacy lane AUDITS k-anonymity (q108) and
    * repairs it by single-attribute local recoding (q150); Mondrian is
    * the published partitioning ALGORITHM — greedy median cuts of the
    * quasi-identifier space (here balance band × nation), each cut
    * accepted only if both sides keep ≥ k rows, so every leaf is a
    * k-anonymous generalization region BY CONSTRUCTION (the theorem
    * the spec pins). [[MondrianRounds]] simultaneous rounds under the
    * ONE [[mondrianSplit]] rule; the report carries every leaf's
    * extents and population plus the discernibility cost Σ n_leaf²
    * (the metric the paper optimizes) for three partitions: none
    * (n² — the unpartitioned ceiling), single-attribute Mondrian
    * (axis forced to balance — q150's family), and full
    * multidimensional. Measured at sf0.01 (1500 customers, k = 25):
    * multidimensional reaches 31 leaves (min 29 — the guarantee with
    * headroom) at discernibility 79576 vs 10 leaves / 243286 for
    * single-attribute and 2 250 000 unpartitioned — the
    * multidimensional advantage is 3.1×, as a number.
    *
    * Scale: customers fold ONCE into ≤ ~2800 (balance-band, nation)
    * weighted cells (the bounded-dictionary collect); the cut is
    * driver math over those cells; leaves derive from cell weights, so
    * no second scan exists. */
  def q400Mondrian(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    val cells = Tables.load(s, dir, "customer")
      .selectExpr(
        s"CAST(round(c_acctbal * 100) AS BIGINT) div $MondrianCell AS cx",
        "CAST(c_nationkey AS BIGINT) AS cy")
      .groupBy($"cx", $"cy").agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    def cut(forceAxis: Option[Int]): Map[Int, Seq[(Long, Long, Long)]] = {
      var boxes: Map[Int, Seq[(Long, Long, Long)]] = Map(1 -> cells)
      (1 to MondrianRounds).foreach { _ =>
        boxes = boxes.toSeq.flatMap { case (b, cs) =>
          mondrianSplit(cs, MondrianK, forceAxis) match {
            case Some((l, r)) => Seq(2 * b -> l, 2 * b + 1 -> r)
            case None         => Seq(b -> cs)
          }
        }.toMap
      }
      boxes
    }
    val multi = cut(None)
    val xOnly = cut(Some(0))
    val n = cells.map(_._3).sum
    def disc(bs: Map[Int, Seq[(Long, Long, Long)]]): Long =
      bs.values.map { cs => val m = cs.map(_._3).sum; m * m }.sum
    val leafRows = multi.toSeq.sortBy(_._1).map { case (b, cs) =>
      org.apache.spark.sql.Row(f"leaf:$b%03d", cs.map(_._1).min,
        cs.map(_._1).max, cs.map(_._2).min, cs.map(_._2).max,
        cs.map(_._3).sum)
    }
    def zRow(tag: String, bs: Map[Int, Seq[(Long, Long, Long)]]) =
      org.apache.spark.sql.Row(tag, bs.size.toLong,
        bs.values.map(_.map(_._3).sum).min, 0L, 0L, disc(bs))
    val rows = leafRows ++ Seq(
      org.apache.spark.sql.Row("z0_none", 1L, n, 0L, 0L, n * n),
      zRow("z1_xonly", xOnly),
      zRow("z2_multi", multi))
    LocalReport.frame(s, rows,
      "scope" -> StringType, "x0" -> LongType, "x1" -> LongType,
      "y0" -> LongType, "y1" -> LongType, "n_or_disc" -> LongType)
  }

  /** The ONE driver-side counting-Bloom position definition (q279's
    * square-high finalizer, k = 3, identical to the SQL expression the
    * q393 batch operator and its oracle evaluate), shared by the
    * streaming cbfGate and the specs — the sprtWalk rule. */
  private[graft] def cbfPositions(key: Long, m: Long = 16384L): Seq[Long] =
    (0 until 3).map { j =>
      val f = graft.functions.Fingerprint.hashString(s"$key:$j")
      (f * f / 65536L) % m
    }

  /** X375 — counting Bloom filter: membership WITH DELETION (Fan et al.
    * 2000's Summary Cache structure — the deletable sibling of q279's
    * bit Bloom, and the membership-lane member of the retraction theme
    * q380/retractGate opened): each of the k = 3 positions holds a
    * COUNTER; insert = +1, delete = −1, membership = all counters > 0.
    * Everything is a combinable sum fold — insertion counters, the
    * delete subtraction, probe verdicts — so the filter builds in ONE
    * pass, merges by addition (the sketch lane's X252/X283 algebra) and
    * deletes without rebuild, which a bit Bloom cannot.
    *
    * Positions reuse q279's measured square-high finalizer (the raw
    * rolling hash is affine across prefix-related families — q279
    * measured 4× theory before the fix). Audit legs, each exact: (1)
    * every inserted key found pre-delete and (2) every SURVIVOR found
    * post-delete — counting Blooms have NO false negatives, both rates
    * pinned at 10⁶ by spec and oracle; (3) deleted keys re-probed —
    * hits are pure position-collision residue, measured; (4) absent
    * probes (+10⁷ shifts) — the FPP, measured; plus the filter row
    * with the max counter (the published 4-bit-counter design needs
    * P[counter ≥ 16] ≈ 0, so the ≥16 overflow count is reported and
    * expected 0). Measured at sf0.01 (300 keys, m = 16384): zero false
    * negatives both legs, deleted-residual 0 ppm, absent FPP 0 ppm
    * (kn/m = 0.055 — far under load), max counter 2.
    *
    * Scale: the counter frame is ≤ m rows of mergeable state; probes
    * are one join against it; at 100 TB the filter IS the shard
    * metadata (q316's role) with deletes riding the same delta stream
    * the IVM lane already processes. */
  def q393CountingBloom(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    Fingerprint.register(s)
    val m = 16384L
    val keys = Tables.load(s, dir, "customer")
      .select($"c_custkey".cast("long").as("key"))
      .filter($"key" % 5L === 0L).distinct().persist()
    try {
      def positions(df: DataFrame) = df
        .select($"key", explode(array(lit(0), lit(1), lit(2))).as("j"))
        .withColumn("fp0", expr(
          "graft_fingerprint(concat(CAST(key AS STRING), ':', CAST(j AS STRING)))"))
        .withColumn("h", expr(s"pmod(fp0 * fp0 div 65536, $m)"))
        .select($"key", $"h")
      val del = keys.filter($"key" % 7L === 3L)
      val cells = positions(keys).groupBy($"h")
        .agg(count(lit(1)).as("cnt")).persist()
      try {
        val dcells = positions(del).groupBy($"h")
          .agg(count(lit(1)).as("dcnt"))
        val after = cells.join(dcells, Seq("h"), "left_outer")
          .na.fill(0L, Seq("dcnt"))
          .select($"h", ($"cnt" - $"dcnt").as("cnt"))
          .filter($"cnt" > 0L).persist()
        try {
          def probe(df: DataFrame, filt: DataFrame): (Long, Long) = {
            val r = positions(df)
              .join(filt.withColumnRenamed("cnt", "c"), Seq("h"), "left_outer")
              .na.fill(0L, Seq("c"))
              .groupBy($"key").agg(min($"c").as("mc"))
              .agg(count(lit(1)).as("n"),
                sum(when($"mc" > 0L, 1L).otherwise(0L)).as("hits")).head()
            (r.getLong(0), r.getLong(1))
          }
          val surv = keys.join(del, Seq("key"), "left_anti")
          val absent = keys.select(($"key" + 10000000L).as("key"))
          val (n1, h1) = probe(keys, cells)
          val (n2, h2) = probe(surv, after)
          val (n3, h3) = probe(del, after)
          val (n4, h4) = probe(absent, after)
          val fr = cells.agg(max($"cnt").as("mx"),
            sum(when($"cnt" >= 16L, 1L).otherwise(0L)).as("ov")).head()
          val nk = keys.count(); val nd = del.count()
          def row(tag: String, n: Long, h: Long, mx: Long) =
            org.apache.spark.sql.Row(tag, n, h,
              if (n == 0L) 0L else h * 1000000L / n, mx)
          // 0_filter row: n = inserted keys, hits = deleted keys,
          // rate_ppm = counters >= 16 (the 4-bit overflow count),
          // aux = max counter
          LocalReport.frame(s, Seq(
            org.apache.spark.sql.Row("0_filter", nk, nd, fr.getLong(1),
              fr.getLong(0)),
            row("1_present_before", n1, h1, 0L),
            row("2_survivors_after", n2, h2, 0L),
            row("3_deleted_after", n3, h3, 0L),
            row("4_absent_after", n4, h4, 0L)),
            "scope" -> StringType, "n" -> LongType, "hits" -> LongType,
            "rate_ppm" -> LongType, "aux" -> LongType)
        } finally after.unpersist(blocking = false)
      } finally cells.unpersist(blocking = false)
    } finally keys.unpersist(blocking = false)
  }

  def q279BloomCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val m = 16384L
    val ks = Seq(1, 2, 4)
    val keys = Tables.load(s, dir, "customer")
      .select($"c_custkey".cast("long").as("key"))
    val probes = keys.select(($"key" + 10000000L).as("key"))
    def positions(df: DataFrame, k: Int) = df
      .select($"key", explode(array((0 until k).map(lit): _*)).as("j"))
      // square-high finalizer: the raw polynomial rolling hash is
      // AFFINE across prefix-related key families (probe strings are
      // prefix-extensions of key strings: fold(p++s) = fold(p)*31^|s| +
      // fold(s)), so bucketing it directly measured 4x-theory FPP even
      // after a Knuth multiply (affine in, affine out). Squaring breaks
      // affinity (middle-square); fp < 1e9+7 keeps fp^2 exact in int64.
      .withColumn("fp0", expr(
        "graft_fingerprint(concat(CAST(key AS STRING), ':', CAST(j AS STRING)))"))
      .withColumn("h", expr(s"pmod(fp0 * fp0 div 65536, $m)"))
    val rows = ks.map { k =>
      val filt = positions(keys, k)
        .select(expr("h div 32").as("w"), expr("1L << CAST(h % 32 AS INT)").as("b"))
        .groupBy($"w").agg(expr("bit_or(b)").as("bits"))
      val nBits = filt.agg(sum(expr("bit_count(bits)")).as("n_bits_set"))
      val hits = positions(probes, k)
        .select($"key", expr("h div 32").as("w"),
          expr("1L << CAST(h % 32 AS INT)").as("b"))
        .join(broadcast(filt), Seq("w"), "left")
        .withColumn("hit",
          when(expr("coalesce(bits, 0L) & b") =!= 0L, 1L).otherwise(0L))
        .groupBy($"key").agg(count(lit(1)).as("n"), sum($"hit").as("nh"))
        .agg(count(lit(1)).as("n_probes"),
          sum(when($"nh" === $"n", 1L).otherwise(0L)).as("false_positives"))
      keys.agg(count(lit(1)).as("n_keys")).crossJoin(broadcast(nBits))
        .crossJoin(broadcast(hits))
        .select(lit(k.toLong).as("k"), $"n_keys",
          $"n_bits_set".cast("long").as("n_bits_set"), $"n_probes",
          $"false_positives",
          expr("false_positives * 1000000 div n_probes").as("fpp_ppm"))
    }
    rows.reduce(_ unionByName _).orderBy($"k")
  }

  /** X291 — differential-privacy mechanism audit (discrete geometric /
    * two-sided-geometric noise on released counts): the privacy ladder
    * (k-anon q108/q150, l-diversity q125, t-closeness q273, SDC
    * suppression q257) bounds what a release REVEALS structurally; DP
    * bounds it mechanically — per-source released count = true count +
    * (G1 − G2) with G1, G2 independent Geometric(1/2) draws, the
    * discrete analogue of the Laplace mechanism with per-unit privacy
    * loss ε = ln 2 (693 milli-nats) for a count query of sensitivity 1.
    * The geometric draws come from trailing-zero counts of
    * middle-square-finalized fingerprints (q282's register idiom:
    * `bit_count((w & -w) - 1)` — exact on both engines), SEEDED so the
    * audit is replayable: this verifies the mechanism's arithmetic,
    * noise distribution shape, and ε accounting; a production release
    * draws fresh randomness through the identical pipeline (a seeded
    * draw is NOT private — the point of the audit is that everything
    * AROUND the draw is exact and portable). The total ε column carries
    * sequential composition: releases × 693 milli-nats.
    *
    * Scale: ONE combinable per-source count fold, collected ONCE — the
    * release count and every noise column derive from the collected
    * |sources|-row aggregate driver-side (the old `perSrc.count()`
    * triggered a second full documents scan for a number the collect
    * already carries); the report is a LocalReport frame. */
  def q318DpMechanism(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    val perSrc = docs(s, dir).groupBy($"source")
      .agg(count(lit(1)).as("true_count"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)(TextOps.utf8Ordering)
    val nRel = perSrc.length.toLong
    // middle-square breaks the rolling hash's affinity (q279's lesson);
    // trailing zeros of the finalized bits are Geometric(1/2) (q282's
    // register idiom; w = 0 at ~2^-50 maps to 0). Driver replay of the
    // former `(fp * fp) div 65536` / `bit_count((w & -w) - 1)` columns:
    // fp < 1e9+7 so fp*fp never overflows, and numberOfTrailingZeros is
    // exactly the bit_count-of-lowest-set-bit-minus-one idiom.
    def geom(tag: String, src: String): Long = {
      val fp = Fingerprint.hashString(s"$tag:$src")
      val w = (fp * fp) / 65536L
      if (w == 0L) 0L else java.lang.Long.numberOfTrailingZeros(w).toLong
    }
    val rows = perSrc.map { case (src, tc) =>
      val noise = geom("dp1", src) - geom("dp2", src)
      org.apache.spark.sql.Row(src, tc, noise, math.max(0L, tc + noise),
        math.abs(noise), 693L, 693L * nRel)
    }
    graft.operators.LocalReport.frame(s, rows.toSeq,
      "source" -> StringType, "true_count" -> LongType,
      "noise" -> LongType, "released_count" -> LongType,
      "abs_noise" -> LongType, "eps_milli" -> LongType,
      "eps_total_milli" -> LongType)
  }

  /** q386's keep probability in ppm: p = 0.75, so ε = ln(p/q) =
    * ln(3(k−1)) for k response values (~2.7 nats at k = 6). */
  private[graft] val RrKeepPpm = 750000L

  /** X367 — local-DP k-ary randomized response (Warner 1965; the
    * RAPPOR/Apple-class collection model): q318 adds noise to COUNTS a
    * trusted curator computed — local DP removes the curator from the
    * trust boundary entirely: each row randomizes its OWN value before
    * it is ever collected (report the true lang with p = [[RrKeepPpm]],
    * else one of the k−1 other values uniformly), and the collector
    * debiases the observed histogram: n̂_v = (c_v − n·q) / (p − q) with
    * q = (1−p)/(k−1), clamped at 0 (both engines state the clamp; a
    * signed floor-vs-truncate division never happens). The report
    * carries, per value: the true count (the audit baseline the real
    * collector never sees), the observed noisy count, the debiased
    * estimate, and |err| — the privacy/utility trade as numbers.
    * Measured at sf0.01 (k = 5, n = 500): per-lang |err| 2–22 on
    * 64–218-count groups, Σ|err| 46 — √(n·q)-scale noise, exactly the
    * method's published utility, and debiasing visibly matters (en is
    * OBSERVED at 173 of a true 218; the estimator returns 206).
    *
    * DERANDOMIZATION CAVEAT (stated loudly, q318's convention): the
    * per-row coin is the q332-hardened squared-tail fingerprint of
    * doc_id so the DuckDB gate can replay the mechanism EXACTLY; a
    * production deployment swaps that one expression for a CSPRNG draw
    * on the client — the estimator, clamp and ε accounting are
    * unchanged. A deterministic coin keyed on a public id provides NO
    * privacy; this operator certifies the pipeline arithmetic, not the
    * entropy source.
    *
    * Scale: ONE narrow scan computes the report column (the value
    * universe rides along as a broadcast ≤k-element array literal from
    * a 1-row agg — no driver count action), ONE k-row aggregate each
    * for observed and true histograms; debiasing is k-row driver math.
    * At 100 TB the collector stores k counters per window — local DP's
    * entire point is that the server-side state is the histogram. */
  def q386RandomizedResponse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    Fingerprint.register(s)
    val langsF = docs(s, dir).agg(sort_array(collect_set($"lang")).as("ls"))
    val rep = docs(s, dir).crossJoin(broadcast(langsF))
      .selectExpr("lang", "ls",
        "CAST(array_position(ls, lang) AS BIGINT) - 1L AS own",
        "graft_fingerprint(concat('rr:', CAST(doc_id AS STRING), ':', " +
          "CAST(pmod(doc_id, 1000003) * pmod(doc_id, 1000003) AS STRING)))" +
          " AS f")
      .selectExpr(
        s"""CASE WHEN pmod(f, 1000000L) < ${RrKeepPpm}L THEN lang
           |ELSE element_at(ls, CAST(pmod(own + 1L +
           |  pmod(f div 1000000L, CAST(size(ls) AS BIGINT) - 1L),
           |  CAST(size(ls) AS BIGINT)) AS INT) + 1) END AS rep"""
          .stripMargin)
    val obs = rep.groupBy($"rep").agg(count(lit(1)).as("n_obs"))
      .select($"rep".as("lang"), $"n_obs")
    val tru = docs(s, dir).groupBy($"lang").agg(count(lit(1)).as("n_true"))
    val per = tru.join(obs, Seq("lang"), "full_outer")
      .na.fill(0L, Seq("n_true", "n_obs"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val n = per.map(_._2).sum
    val k = per.length.toLong
    val qPpm = 250000L / (k - 1L)
    val den = RrKeepPpm - qPpm
    val body = per.map { case (lg, t, o) =>
      val num = o * 1000000L - n * qPpm
      val est = if (num <= 0L) 0L else num / den
      org.apache.spark.sql.Row(s"lang:$lg", t, o, est, math.abs(est - t))
    }.toSeq
    val rows = body :+ org.apache.spark.sql.Row("z_total", n,
      body.map(_.getLong(2)).sum, body.map(_.getLong(3)).sum,
      body.map(_.getLong(4)).sum)
    graft.operators.LocalReport.frame(s, rows,
      "scope" -> StringType, "n_true" -> LongType, "n_obs" -> LongType,
      "n_est" -> LongType, "err_abs" -> LongType)
  }

  /** X289 — file-level Bloom skipping audit: the skipping lane's missing
    * member. Min-max zone maps (q85/q294) prune RANGE predicates on
    * sorted-ish columns and are USELESS for point lookups on a
    * high-cardinality column uncorrelated with write order — every file
    * spans nearly the full key range. Parquet-style per-file Bloom
    * filters (q279's portable recipe: middle-square-finalized
    * fingerprint positions, 4096 bits × 3 hashes, bit_or-packed words)
    * close exactly that gap. The audit tiles orders into 64 natural-
    * order files, builds both structures, and probes present custkeys
    * (≡ 17 mod 61) plus their +1e7 absent shifts: per probe, TRUE
    * containing files vs files min-max must read vs files the Bloom
    * admits. Measured: min-max reads all 64 files for every PRESENT
    * probe (the point-lookup blind spot) while Bloom reads ≈ the true
    * ~10-file set plus a small FP tail; on the absent class min-max
    * prunes trivially (out of range) and the Bloom column becomes a
    * direct read of the per-file false-positive rate on keys that hash
    * like real ones.
    *
    * Scale: one GlobalOrder pass for the file tiling (the write's own
    * cost), ONE combinable (file, word) bit_or fold (≤ 64×128 rows —
    * broadcast class), zone maps are 64 rows; probe joins broadcast the
    * bounded structures. The Bloom table at 100 TB is files × 128
    * words — exactly the parquet footer metadata a real lake stores. */
  def q316BloomSkipping(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val m = 4096L
    val base = Tables.load(s, dir, "orders")
      .select($"o_orderkey".cast("long").as("okey"),
        $"o_custkey".cast("long").as("ckey"))
    val (numbered, total) = graft.operators.GlobalOrder
      .withRowNumberAndTotal(base, Seq($"okey"), "rn")
    val filed = numbered
      .withColumn("file", expr(s"(rn - 1) * 64 div ${total}L"))
      .select($"file", $"ckey").persist()
    try {
      def positions(df: DataFrame, keyCol: String) = df
        .select(col(keyCol), explode(array(lit(0), lit(1), lit(2))).as("j"))
        .withColumn("fp0", expr(
          s"graft_fingerprint(concat(CAST($keyCol AS STRING), ':', CAST(j AS STRING)))"))
        .withColumn("h", expr(s"pmod(fp0 * fp0 div 65536, $m)"))
      val zones = filed.groupBy($"file")
        .agg(min($"ckey").as("mn"), max($"ckey").as("mx"))
      val blooms = filed.select($"file", $"ckey").distinct()
        .select($"file", $"ckey",
          explode(array(lit(0), lit(1), lit(2))).as("j"))
        .withColumn("fp0", expr(
          "graft_fingerprint(concat(CAST(ckey AS STRING), ':', CAST(j AS STRING)))"))
        .withColumn("h", expr(s"pmod(fp0 * fp0 div 65536, $m)"))
        .select($"file", expr("h div 32").as("w"),
          expr("1L << CAST(h % 32 AS INT)").as("b"))
        .groupBy($"file", $"w").agg(expr("bit_or(b)").as("bits"))
      // every in-range custkey is used in this synthetic corpus (no
      // customer without orders), so the absent class is q279's +1e7
      // shift: min-max prunes it trivially (out of range), which makes
      // the Bloom column a DIRECT read of the per-file false-positive
      // tail on keys that hash like real ones
      val present = base.select($"ckey".as("probe")).distinct()
        .filter(pmod($"probe", lit(61L)) === 17L)
        .withColumn("present", lit(1L))
      val absent = present
        .select(($"probe" + 10000000L).as("probe"), lit(0L).as("present"))
      val probes = present.unionByName(absent)
      val truth = filed
        .join(probes.select($"probe"), filed("ckey") === $"probe")
        .groupBy($"probe").agg(countDistinct($"file").as("n_true"))
      val mm = probes.select($"probe")
        .crossJoin(broadcast(zones))
        .filter($"probe".between($"mn", $"mx"))
        .groupBy($"probe").agg(count(lit(1)).as("n_minmax"))
      val bl = positions(probes.select($"probe"), "probe")
        .select($"probe", expr("h div 32").as("w"),
          expr("1L << CAST(h % 32 AS INT)").as("b"))
        .join(broadcast(blooms), Seq("w"))
        .filter(expr("bits & b") =!= 0L)
        .groupBy($"probe", $"file").agg(count(lit(1)).as("nh"))
        .filter($"nh" === 3L)
        .groupBy($"probe").agg(count(lit(1)).as("n_bloom"))
      // probe-count-sized report: collect while filed is cached, then
      // release (the persist-materialize-unpersist discipline — a lazily
      // returned frame could not release its own cache)
      val rows = probes
        .join(truth, Seq("probe"), "left")
        .join(mm, Seq("probe"), "left")
        .join(bl, Seq("probe"), "left")
        .select($"probe".as("probe_key"), $"present",
          coalesce($"n_true", lit(0L)).as("n_files_true"),
          coalesce($"n_minmax", lit(0L)).as("n_files_minmax"),
          coalesce($"n_bloom", lit(0L)).as("n_files_bloom"))
        .orderBy($"probe_key")
        .collect().toSeq
      import org.apache.spark.sql.types._
      LocalReport.frame(s, rows,
        ("probe_key", LongType), ("present", LongType),
        ("n_files_true", LongType), ("n_files_minmax", LongType),
        ("n_files_bloom", LongType))
    } finally filed.unpersist(blocking = false)
  }

  /** q312's per-shard deterministic compactor summaries (MRL/KLL
    * "compact-from-exact" form): items hash to `shards` buckets; a bucket
    * of n_b items compacts L_b times with L_b minimal s.t.
    * n_b <= cap * 2^L_b, keeping its value-ranks ≡ 1 (mod 2^L_b) with
    * tail-exact weights min(2^L_b, n_b - r + 1) — so per-bucket weights
    * sum to n_b EXACTLY and any cumulative-weight rank estimate is off by
    * at most 2^L_b - 1 per bucket (the deterministic MRL bound; no coin
    * flips, which is what lets a second engine replay the sketch
    * bit-for-bit). Returns (summary rows (cents, id, weight) sorted by
    * (cents, id), total n, bound = Σ_b 2^L_b ≥ any estimate's rank
    * error).
    *
    * Per-bucket ranks come from ONE GlobalOrder pass over (bucket, value,
    * id) minus broadcast bucket offsets — never a |shards|-partition
    * window over the corpus. In production the shards ARE the storage
    * shards and each summary folds from its shard's local sort with no
    * shuffle at all; the deterministic bucket assignment here exists so
    * two engines build the identical sketch. */
  private[graft] def kllSummary(base: DataFrame, shards: Int, cap: Int)
      : (Array[(Long, Long, Long)], Long, Long) = {
    val s = base.sparkSession
    import s.implicits._
    val bucketed = base.withColumn("bk", pmod($"id", lit(shards.toLong)))
    val (num, n) = graft.operators.GlobalOrder.withRowNumberAndTotal(
      bucketed, Seq($"bk", $"cents", $"id"), "grn")
    val counts = bucketed.groupBy($"bk").agg(count(lit(1)).as("n_b"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val offsets = counts.map(_._1).zip(
      counts.map(_._2).scanLeft(0L)(_ + _)).toMap
    val meta = counts.map { case (bk, nB) =>
      val lvl = if (nB <= cap) 0
        else 64 - java.lang.Long.numberOfLeadingZeros((nB - 1) / cap)
      (bk, offsets(bk), nB, 1L << lvl)
    }
    val bound = meta.map(_._4).sum
    val metaDf = meta.toSeq.toDF("bk", "off", "n_b", "pow2")
    val summary = num.join(broadcast(metaDf), Seq("bk"))
      .withColumn("br", $"grn" - $"off")
      .filter(($"br" - 1) % $"pow2" === 0)
      .select($"cents", $"id", least($"pow2", $"n_b" - $"br" + 1).as("w"))
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    (summary, n, bound)
  }

  /** X283 — portable KLL-class mergeable quantile sketch + measured rank
    * error: completes the portable-sketch suite (q279 membership, q282
    * cardinality, q283 point frequency, q293 set similarity — and now
    * QUANTILES, the sketch a 100 TB pipeline needs most: q91's exact
    * deciles pay a full corpus range shuffle; this answers the same
    * deciles from Σ_shards ≤ cap weighted items). Deterministic
    * compactor summaries per shard ([[kllSummary]] — the MRL
    * "keep-every-2^L-th with tail-exact weights" form, every step
    * replayable by a second engine), merged by weighted union; each
    * decile's estimate is the first summary item whose cumulative weight
    * reaches the target rank. The audit puts estimate and exact value
    * side by side with the estimate's TRUE rank, its raw rank error, and
    * the sketch's own DETERMINISTIC bound Σ_b 2^L_b — within_bound == 1
    * everywhere is the certificate (14400 ppm bound at sf0.01's 60k rows,
    * cap 128 × 64 shards; measured |error| ~5700-7500 ppm, and one-sided:
    * start-of-block representatives make cumulative weight an
    * OVERcount of items ≤ v, so estimates land at-or-below the target
    * rank — the deterministic form trades KLL's random-offset
    * unbiasedness for two-engine replayability and keeps the same
    * worst-case bound). The merge
    * property (q293's discipline: half-sketches union to a valid sketch
    * with summed bounds) is spec-pinned on real id-parity halves.
    *
    * Scale: the sketch lane is one narrow projection + ONE GlobalOrder
    * pass (deterministic-replay cost only: production shards fold
    * locally) into a ≤ shards·cap bounded frame; the exact lane (q91's
    * range shuffle) exists BECAUSE this is the calibration audit —
    * production ships the sketch alone. Report is 9 rows, collect-local
    * (q294's idiom). */
  def q312KllQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val shards = 64
    val cap = 128
    val base = Tables.load(s, dir, "lineitem")
      .select(($"l_orderkey".cast("long") * 8 +
        $"l_linenumber".cast("long")).as("id"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
    val (summary, n, bound) = kllSummary(base, shards, cap)
    // driver merge of the (already-unioned) weighted summaries: running
    // cumulative weight in (cents, id) order; estimate for target t = the
    // first item with cumw >= t. Σ weights == n exactly, so every target
    // d*n/10 + 1 <= n is covered.
    val targets = (1 to 9).map(d => d.toLong -> ((d * n) / 10 + 1)).toMap
    var cumw = 0L
    val cum = summary.map { case (c, i, w) => cumw += w; (c, i, cumw) }
    val est = targets.map { case (d, t) =>
      val (c, i, _) = cum(cum.indexWhere(_._3 >= t))
      d -> (c, i)
    }
    // exact values at the target ranks + TRUE ranks of the estimates:
    // one GlobalOrder pass by (cents, id), filtered to 18 rows.
    val (glob, _) = graft.operators.GlobalOrder.withRowNumberAndTotal(
      base, Seq($"cents", $"id"), "rn")
    val estIds = est.values.map(_._2).toSeq
    val tRanks = targets.values.toSeq
    val lookup = glob
      .filter($"rn".isin(tRanks: _*) || $"id".isin(estIds: _*))
      .select($"id", $"cents", $"rn")
      .as[(Long, Long, Long)].collect()
    val byRank = lookup.map(r => r._3 -> r._2).toMap
    import org.apache.spark.sql.types._
    LocalReport.frame(s, (1 to 9).map { d =>
      val t = targets(d.toLong)
      val (estC, estId) = est(d.toLong)
      // (orderkey, linenumber) is NOT unique in this corpus (q288's
      // lesson): the estimate's TRUE rank is the MIN rank of its
      // duplicate (cents, id) group — invariant to which duplicate row
      // received which row number on either engine.
      val estRank = lookup.collect {
        case (i, c, rn) if i == estId && c == estC => rn
      }.min
      val err = estRank - t
      org.apache.spark.sql.Row(d.toLong, byRank(t), estC, t, estRank, err,
        math.abs(err) * 1000000L / n, bound * 1000000L / n,
        if (math.abs(err) <= bound) 1L else 0L)
    },
      ("decile", LongType), ("exact_cents", LongType),
      ("sketch_cents", LongType), ("target_rank", LongType),
      ("est_rank", LongType), ("err_rank", LongType),
      ("abs_err_ppm", LongType), ("bound_ppm", LongType),
      ("within_bound", LongType))
  }

  /** X252 — portable HyperLogLog + measured estimation error: q279's
    * cardinality sibling. X28 USES Spark's built-in HLL++; this BUILDS the
    * sketch from first principles in portable integer arithmetic —
    * m = 256 registers, register index from the middle-square finalizer's
    * low byte (q279's lesson: the raw polynomial hash is affine across
    * related key families; `fp² div 65536` breaks it), register value =
    * trailing-zeros+1 of the remaining bits (the same geometric law as
    * the textbook leading-zeros rho, and expressible as
    * `bit_count((w & -w) - 1) + 1` on BOTH engines — w = 0 degrades to
    * bit_count(-1)+1 = 65, capped at 32, identically on both). The
    * harmonic mean stays exact: T = Σ 2^(32−reg) (+ 2^32 per empty
    * register), estimate = α·m²·2^32/T with α = 718273/10⁶ (0.7213/(1 +
    * 1.079/m)) evaluated in overflow-safe order (2^48 div T first).
    * Three estimators chart the behaviors that matter: a unique key
    * column, the SAME key set observed with ~4× duplication (HLL must
    * return the IDENTICAL estimate — registers are max-folds, dup-blind),
    * and a 4×-larger composite key space. Small-range (linear-counting)
    * correction is out of scope by precondition: all audited
    * cardinalities exceed 2.5·m, the published branch threshold.
    *
    * Scale: per estimator ONE map-side-combinable max fold to 256
    * register rows; the harmonic sum, alpha multiply and error ppm act on
    * |estimators|-row frames. The register frame is mergeable state — at
    * 100 TB, per-partition sketches union by max, the property this audit
    * exercises via the duplicated-key leg. The exact-distinct twin reads
    * the union scan a second time (deliberate: the scan is three narrow
    * projections and the lazily-returned 3-row frame cannot release a
    * cache; production ships the sketch fold alone). */
  def q282HllAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val orders = Tables.load(s, dir, "orders")
      .select(lit("orders_pk").as("est_id"),
        $"o_orderkey".cast("long").as("v"))
    val li = Tables.load(s, dir, "lineitem")
    val liFk = li.select(lit("lineitem_fk").as("est_id"),
      $"l_orderkey".cast("long").as("v"))
    val liPk = li.select(lit("lineitem_pk").as("est_id"),
      ($"l_orderkey".cast("long") * 8L +
        $"l_linenumber".cast("long")).as("v"))
    val src = orders.unionByName(liFk).unionByName(liPk)
      .withColumn("fp", expr("graft_fingerprint(CAST(v AS STRING))"))
      .withColumn("hh", expr("fp * fp div 65536"))
      .withColumn("idx", expr("hh % 256"))
      .withColumn("reg", expr(
        "least(bit_count(((hh div 256) & -(hh div 256)) - 1) + 1, 32)"))
    val regs = src.groupBy($"est_id", $"idx")
      .agg(max($"reg").cast("long").as("reg"))
    val tsum = regs.groupBy($"est_id")
      .agg((sum(expr("shiftleft(1L, CAST(32 - reg AS INT))")) +
        (lit(256L) - count(lit(1))) * lit(4294967296L)).as("t"))
    val exact = src.groupBy($"est_id")
      .agg(count(lit(1)).as("n_rows"), countDistinct($"v").as("n_distinct"))
    exact.join(tsum, Seq("est_id"))
      .withColumn("hll_estimate",
        expr("718273 * (281474976710656 div t) div 1000000"))
      .withColumn("err_ppm",
        expr("hll_estimate * 1000000 div n_distinct - 1000000"))
      .select($"est_id", $"n_rows", $"n_distinct", $"hll_estimate", $"err_ppm")
      .orderBy($"est_id")
  }

  /** X100 — Bloom-prefiltered semi-join: the runtime-filter pattern for
    * "big fact ⋉ selective dim predicate" joins — build a Bloom filter over
    * the qualifying dimension keys (`df.stat.bloomFilter`, a distributed
    * aggregate), broadcast the ~filter-sized sketch, and drop non-matching
    * fact rows in a NARROW map before the exact semi-join finishes the job.
    * False positives cost nothing (the exact join removes them); false
    * negatives are impossible, so the result is bit-identical to the plain
    * semi-join.
    *
    * Scale: at 100 TB the win is shuffle elimination — the fact side
    * shrinks by the predicate's selectivity (~10% here) BEFORE its
    * exchange, while the Bloom sketch stays a few hundred KB regardless of
    * fact size (vs broadcasting the full keyset, which grows with the dim).
    * This is what Spark's own runtime row-group filtering does inside the
    * engine, surfaced as an explicit operator for engines/readers that
    * cannot inject it. */
  def q134BloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keys = Tables.load(s, dir, "orders")
      .filter($"o_totalprice" >= 450000.0)
      .select($"o_orderkey")
    // expectedNumItems from a cheap count on the (already selective) dim
    // side; fpp 1% keeps the sketch ~1.2 KB per 1k keys — broadcastable at
    // any corpus scale.
    val n = math.max(keys.count(), 1L)
    val bf = s.sparkContext.broadcast(keys.stat.bloomFilter("o_orderkey", n, 0.01))
    val mightContain = udf((k: Long) => bf.value.mightContainLong(k))
    Tables.load(s, dir, "lineitem")
      .filter($"l_orderkey".isNotNull && mightContain($"l_orderkey"))
      .join(keys, $"l_orderkey" === $"o_orderkey", "left_semi")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        sum(graft.functions.Exact.cents($"l_quantity")).as("qty_x100"),
        sum(round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100)
          .cast("long")).as("revenue_cents"))
      .orderBy($"l_returnflag")
  }

  /** X101 — incremental aggregate maintenance (IVM): merge a persisted
    * per-language statistics snapshot with the aggregate of a NEW document
    * batch instead of rescanning the corpus — the standing-state pattern
    * behind every "corpus dashboard" that survives daily ingests. The batch
    * is the deterministic doc_id ≡ 0 (mod 10) decile; the snapshot is the
    * other nine deciles, written to (and read back from) a parquet state
    * table so the merge provably consumes persisted state, not a live
    * re-aggregation.
    *
    * Scale: the incremental pass scans O(|batch|) rows + a |langs|-row
    * state table; the merge is a full-outer join of two language-sized
    * frames (count/sum are the canonical mergeable aggregates). The full
    * recompute this replaces is the oracle. */
  def q136IncrStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def agg(df: DataFrame): DataFrame = df.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split($"text", " ")).cast("long")).as("n_tokens"),
        sum(length($"text").cast("long")).as("n_chars"))
    val tmp = graft.sources.Scratch.alloc(s, "graft_ivm_state")
    try {
      agg(docs(s, dir).filter($"doc_id" % 10 =!= 0))
        .write.mode("overwrite").parquet(s"$tmp/state")
      val state = s.read.parquet(s"$tmp/state")
      val delta = agg(docs(s, dir).filter($"doc_id" % 10 === 0))
      val rows = state.as("b").join(delta.as("d"), Seq("lang"), "full_outer")
        .select($"lang",
          (coalesce($"b.n_docs", lit(0L)) + coalesce($"d.n_docs", lit(0L)))
            .as("n_docs"),
          (coalesce($"b.n_tokens", lit(0L)) + coalesce($"d.n_tokens", lit(0L)))
            .as("n_tokens"),
          (coalesce($"b.n_chars", lit(0L)) + coalesce($"d.n_chars", lit(0L)))
            .as("n_chars"))
        .orderBy($"lang")
        .collect().toSeq
      import org.apache.spark.sql.types._
      LocalReport.frame(s, rows,
        ("lang", StringType),
        ("n_docs", LongType),
        ("n_tokens", LongType),
        ("n_chars", LongType))
    } finally {
      graft.sources.Scratch.delete(s, tmp)
    }
  }

  /** X102 — salted replicated join: the skew-join escape hatch when one
    * join key carries a disproportionate share of the fact rows and the dim
    * side is too large (or the engine too old) for AQE's skew splitting —
    * the fact side gets a deterministic salt in [0, R), the dim side is
    * replicated R×, and the join key becomes (key, salt), splitting each
    * hot key's rows across R reducers. Inner-join semantics are exactly
    * preserved: every fact row still meets precisely its one dim row (in
    * its salt slice).
    *
    * Scale: R multiplies only the DIM side (supplier ×8 here); the fact
    * side gains an 8-byte column. The join is pinned to SHUFFLE_HASH —
    * with a broadcast the salt would be pointless (no shuffle to skew),
    * and sort-merge would re-sort the replicated side. The salt is
    * xxhash64-derived (uniform, replayable under retries), never rand(). */
  def q137SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val R = 8
    val fact = Tables.load(s, dir, "lineitem")
      .filter($"l_suppkey".isNotNull)
      .select($"l_suppkey",
        round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100)
          .cast("long").as("cents"),
        pmod(xxhash64($"l_orderkey", $"l_linenumber"), lit(R)).as("salt"))
    val dim = Tables.load(s, dir, "supplier")
      .select($"s_suppkey", $"s_nationkey".cast("long").as("s_nationkey"))
      .withColumn("salt", explode(sequence(lit(0L), lit(R - 1L))))
    fact.join(dim.hint("SHUFFLE_HASH"),
        fact("l_suppkey") === dim("s_suppkey") && fact("salt") === dim("salt"))
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_lines"), sum($"cents").as("revenue_cents"))
      .orderBy($"s_nationkey")
  }

  /** X117 — k-anonymity generalization REPAIR: q108 finds quasi-identifier
    * groups smaller than k; this op actually repairs them by walking a
    * fixed generalization hierarchy — (nation, segment) → (region,
    * segment) → (segment) → suppress — promoting each failing group to the
    * next level until its (recursively merged) population reaches k. Local
    * recoding: rows in passing groups keep their precision; only failing
    * rows coarsen. The output is the per-level group report a privacy
    * review signs off on.
    *
    * Scale: each level is one combinable count over only the
    * still-failing rows (a shrinking minority); the nation→region lookup
    * broadcasts. Level frames are QI-cardinality-sized. */
  def q150KanonRepair(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 5L
    val nat = Tables.load(s, dir, "nation")
      .select($"n_nationkey".cast("long").as("nationkey"),
        $"n_regionkey".cast("long").as("regionkey"))
    val rows = Tables.load(s, dir, "customer")
      .select($"c_nationkey".cast("long").as("nationkey"),
        $"c_mktsegment".as("segment"))
      .join(broadcast(nat), Seq("nationkey"))
    // level 0: (nation, segment)
    val g0 = rows.groupBy($"nationkey", $"segment", $"regionkey")
      .agg(count(lit(1)).as("n"))
    val pass0 = g0.filter($"n" >= k)
      .select(lit(0L).as("level"),
        concat(lit("n"), $"nationkey", lit("/"), $"segment").as("qi_group"),
        $"n".as("n_members"))
    // level 1: failing level-0 rows regrouped as (region, segment)
    val g1 = g0.filter($"n" < k)
      .groupBy($"regionkey", $"segment").agg(sum($"n").as("n"))
    val pass1 = g1.filter($"n" >= k)
      .select(lit(1L).as("level"),
        concat(lit("r"), $"regionkey", lit("/"), $"segment").as("qi_group"),
        $"n".as("n_members"))
    // level 2: still failing → (segment); below k even there → suppress
    val g2 = g1.filter($"n" < k)
      .groupBy($"segment").agg(sum($"n").as("n"))
    val pass2 = g2.filter($"n" >= k)
      .select(lit(2L).as("level"), $"segment".as("qi_group"),
        $"n".as("n_members"))
    val suppressed = g2.filter($"n" < k)
      .select(lit(3L).as("level"),
        concat(lit("suppressed/"), $"segment").as("qi_group"),
        $"n".as("n_members"))
    pass0.unionByName(pass1).unionByName(pass2).unionByName(suppressed)
      .orderBy($"level", $"qi_group")
  }

  /** X118 — mixture rebalance PLAN: turn X41's target weights into the
    * concrete per-language resampling factors a pipeline executes —
    * current token share vs the sqrt-temperature target, the up/downsample
    * factor in ppm (>10⁶ = repeat, <10⁶ = subsample), and the planned
    * post-rebalance document count. The missing step between "here are
    * the weights" (q82) and "emit the curriculum" (q133).
    *
    * Scale: ONE combinable language fold over the corpus (shared with
    * X41's mixtureWeights); everything after runs on the |langs| frame.
    * Integer ppm throughout — floor-sqrt is the only nonlinearity and is
    * cross-engine exact. */
  def q151RebalancePlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = mixtureWeights(docs(s, dir)
      .select($"lang", size(split($"text", " ")).cast("long").as("n_toks")))
    val total = w.agg(sum($"n_tokens").as("total_tokens"))
    w.crossJoin(broadcast(total))
      .select($"lang", $"n_docs", $"n_tokens",
        expr("n_tokens * 1000000 div total_tokens").as("share_ppm"),
        $"weight_ppm".as("target_ppm"))
      .withColumn("factor_ppm",
        expr("target_ppm * 1000000 div greatest(share_ppm, 1)"))
      .withColumn("planned_docs", expr("n_docs * factor_ppm div 1000000"))
      .orderBy($"lang")
  }

  /** X110 — compaction EXECUTION: materialize q89's small-file compaction
    * plan — assign every document its planned (source, file_seq), lay the
    * data out with one repartition on exactly that key, write, and read
    * the layout back to prove each physical file landed with precisely the
    * planned document count and byte payload. q89 is the planner; this is
    * the worker that a nightly layout job actually runs.
    *
    * Scale: the assignment reuses q89's single running-sum window per
    * source stream; the write is ONE repartition((source, file_seq)) —
    * each planned file becomes one task writing one contiguous file, the
    * inverse of the small-files problem. The read-back audit is one
    * combinable agg over the new layout. Everything else is integer math
    * on cumulative bytes. */
  def q144CompactionApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val target = 262144L // 256 KB — q89's target
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val assigned = docs(s, dir)
      .select($"doc_id", $"source",
        coalesce(length($"text"), lit(0)).cast("long").as("n_bytes"))
      .withColumn("end_byte", sum($"n_bytes").over(w))
      .withColumn("file_seq", expr(s"(end_byte - 1) div $target"))
      .select($"doc_id", $"source", $"n_bytes", $"file_seq")
    val tmp = graft.sources.Scratch.alloc(s, "graft_compact")
    try {
      assigned.repartition($"source", $"file_seq")
        .write.partitionBy("source", "file_seq").parquet(s"$tmp/layout")
      val actual = s.read.parquet(s"$tmp/layout")
        .groupBy($"source", $"file_seq".cast("long").as("file_seq"))
        .agg(count(lit(1)).as("n_docs"), sum($"n_bytes").as("n_bytes"))
      val plan = assigned
        .groupBy($"source", $"file_seq")
        .agg(count(lit(1)).as("plan_docs"), sum($"n_bytes").as("plan_bytes"))
      val rows = actual.join(plan, Seq("source", "file_seq"), "full_outer")
        .select($"source", $"file_seq",
          coalesce($"n_docs", lit(0L)).as("n_docs"),
          coalesce($"n_bytes", lit(0L)).as("n_bytes"),
          when($"n_docs" === $"plan_docs" && $"n_bytes" === $"plan_bytes", 1L)
            .otherwise(0L).as("ok"))
        .orderBy($"source", $"file_seq")
        .collect().toSeq
      import org.apache.spark.sql.types._
      LocalReport.frame(s, rows,
        ("source", StringType),
        ("file_seq", LongType),
        ("n_docs", LongType),
        ("n_bytes", LongType),
        ("ok", LongType))
    } finally {
      graft.sources.Scratch.delete(s, tmp)
    }
  }

  /** X213 — secret/credential scan audit: the key-shaped-token detector
    * a corpus needs BEYOND q81's PII shapes and q155's Luhn check —
    * leaked API keys ship verbatim into model weights. Three detector
    * classes: 32+-char lowercase-hex runs (hash/key material), AWS-style
    * `AKIA[0-9A-Z]{16}` access-key ids, and credential assignments
    * `(api_key|secret|token|password)=<16+ chars>`. Ground truth is
    * planted per document from doc_id (q155's idiom): docs ≡1 (mod 4)
    * get a hex-key assignment (fires hex AND assign), ≡2 an AWS key,
    * ≡3 a NEAR-MISS short-value assignment that must NOT fire, ≡0
    * nothing — every verdict independently checkable.
    *
    * Scale: entirely narrow — plant, three regexp_extract_all passes and
    * the flag are codegen'd string expressions at scan throughput; zero
    * shuffles before the final orderBy. */
  /** The q246 ground-truth plant, exposed so the streaming-equivalence
    * spec can feed the IDENTICAL planted text through
    * [[graft.streaming.EventStream.secretGate]] and pin it to the
    * oracle-gated q246 frame. */
  private[graft] def secretPlant(df: DataFrame): DataFrame = {
    // 8-hex-char blocks derived from doc_id: value < 2^32, zero-padded so
    // the concatenation is exactly 32 (or 16) chars in both engines.
    // The multiply is in SPLIT FORM (x = id mod 2^32 split at 2^16;
    // x·a ≡ (x div 2^16)·(a·2^16 mod 2^32) + (x mod 2^16)·a (mod 2^32),
    // with a·2^16 mod 2^32 = 2041643008 precomputed): identical values in
    // infinite precision, but every intermediate stays < 2^49 — the raw
    // id·2654435761 overflows int64 at id ≳ 3.5e9, where Spark wraps
    // silently and DuckDB raises (ADVICE r9).
    def block(k: Int, up: Boolean) = {
      val cased = if (up) "upper" else "lower"
      val x = "pmod(doc_id, 4294967296)"
      s"lpad($cased(hex(($x div 65536 * 2041643008 + $x % 65536 * 2654435761" +
        s" + ${k * 97}) % 4294967296)), 8, '0')"
    }
    val hex32 = (0 to 3).map(block(_, up = false)).mkString("concat(", ", ", ")")
    val up16 = (4 to 5).map(block(_, up = true)).mkString("concat(", ", ", ")")
    df.withColumn("t2", concat(coalesce(col("text"), lit("")),
      when(col("doc_id") % 4 === 1, concat(lit(" api_key="), expr(hex32)))
        .when(col("doc_id") % 4 === 2, concat(lit(" key AKIA"), expr(up16)))
        .when(col("doc_id") % 4 === 3, lit(" token=shortpw1"))
        .otherwise(lit("")),
      lit(" end")))
  }

  /** The three detector counts over a text column — ONE definition (via
    * [[SecretPatterns]]) shared with the streaming gate. */
  private[graft] def secretCounts(textCol: String): Seq[Column] = Seq(
    size(expr(s"regexp_extract_all($textCol, '${SecretPatterns.HexRun}', 0)"))
      .cast("long").as("n_hex_runs"),
    size(expr(s"regexp_extract_all($textCol, '${SecretPatterns.AwsKeyId}', 0)"))
      .cast("long").as("n_aws_keys"),
    size(expr(s"regexp_extract_all($textCol, '${SecretPatterns.CredAssign}', 0)"))
      .cast("long").as("n_cred_assign"))

  def q246SecretScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    secretPlant(docs(s, dir))
      .select(($"doc_id" +: secretCounts("t2")): _*)
      .withColumn("has_secret",
        when($"n_hex_runs" + $"n_aws_keys" + $"n_cred_assign" > 0, 1L)
          .otherwise(0L))
      .orderBy($"doc_id")
  }

  /** X122 — Luhn-validated card-number audit: q81's PII scrub counts digit
    * SHAPES; payment-card numbers need the mod-10 check or the redactor
    * drowns in false positives (order ids, timestamps). Ground truth is
    * planted per document — a deterministic 15-digit base derived from
    * doc_id gets its true Luhn check digit appended when doc_id % 3 = 0
    * and a corrupted one (+5 mod 10, never equal) otherwise — so the
    * detector's verdict on every row is independently checkable.
    *
    * The detector re-derives nothing from the plant: it extracts ALL
    * 13-19 digit runs and validates each with the Luhn fold (double every
    * second digit from the right, subtract 9 above 9, sum % 10 = 0).
    *
    * Scale: entirely narrow — the plant, the extraction and the per-
    * candidate fold are codegen'd string/HOF expressions at scan
    * throughput; zero shuffles before the final orderBy. The fold is
    * O(digits) per candidate with no allocation beyond the match list. */
  def q155LuhnAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Luhn partial sum over the 15-digit base, doubling positions that sit
    // at EVEN offsets in the final 16-digit number (reversed j odd here,
    // because the appended check digit shifts every base digit left once).
    val baseSum =
      """aggregate(sequence(1, 15), 0L, (acc, j) ->
        |  acc + CASE WHEN j % 2 = 1
        |    THEN IF(2 * CAST(substring(reverse(pan15), j, 1) AS BIGINT) > 9,
        |            2 * CAST(substring(reverse(pan15), j, 1) AS BIGINT) - 9,
        |            2 * CAST(substring(reverse(pan15), j, 1) AS BIGINT))
        |    ELSE CAST(substring(reverse(pan15), j, 1) AS BIGINT) END)""".stripMargin
    // full-number Luhn total: rightmost digit (j=1) undoubled, then every
    // second — the textbook validation, applied to each extracted run
    val luhnValid =
      """filter(cands, c -> aggregate(sequence(1, length(c)), 0L, (acc, j) ->
        |  acc + CASE WHEN j % 2 = 0
        |    THEN IF(2 * CAST(substring(reverse(c), j, 1) AS BIGINT) > 9,
        |            2 * CAST(substring(reverse(c), j, 1) AS BIGINT) - 9,
        |            2 * CAST(substring(reverse(c), j, 1) AS BIGINT))
        |    ELSE CAST(substring(reverse(c), j, 1) AS BIGINT) END) % 10 = 0)""".stripMargin
    docs(s, dir)
      .withColumn("pan15", lpad(
        (($"doc_id" * 1000003L + 777L) % 1000000000000000L).cast("string"), 15, "0"))
      .withColumn("cd", (lit(10L) - expr(baseSum) % 10L) % 10L)
      .withColumn("t2", concat(coalesce($"text", lit("")), lit(" card "), $"pan15",
        when($"doc_id" % 3 === 0, $"cd").otherwise(($"cd" + 5L) % 10L).cast("string"),
        lit(" end")))
      .withColumn("cands", expr("regexp_extract_all(t2, '[0-9]{13,19}', 0)"))
      .select($"doc_id",
        size($"cands").cast("long").as("n_candidates"),
        size(expr(luhnValid)).cast("long").as("n_valid"))
      .withColumn("has_valid_card", when($"n_valid" > 0, 1L).otherwise(0L))
      .orderBy($"doc_id")
  }

  /** X146 — train/eval split-leakage audit: under the replayable
    * fingerprint split (X127's convention — band 9 of
    * fingerprint(text ‖ doc_id) is eval), count eval documents whose
    * EXACT text (md5) also appears on the train side — the split-hygiene
    * check that catches benchmark leakage the split itself cannot see,
    * because a fingerprint keyed on (text, doc_id) deliberately
    * scatters exact duplicates across both sides.
    *
    * Scale: both legs project to (md5, lang) before anything moves; the
    * membership join shuffles 16-byte uniform keys on both sides (q77's
    * honest-shuffle rule — the train hash set is corpus-sized, never
    * broadcast-pretended); the report fold is combinable into \|langs\|. */
  def q178SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val d = docs(s, dir).select($"doc_id", $"lang",
      md5(coalesce($"text", lit(""))).as("h"),
      (expr("graft_fingerprint(concat(coalesce(text, ''), CAST(doc_id AS STRING)))")
        % 10 === 9).as("is_eval"))
    val trainH = d.filter(!$"is_eval").select($"h").distinct()
      .withColumn("leak", lit(1L))
    d.filter($"is_eval")
      .join(trainH, Seq("h"), "left")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_eval"),
        sum(coalesce($"leak", lit(0L))).as("n_leaked"))
      .withColumn("leak_ppm", expr("n_leaked * 1000000 div n_eval"))
      .orderBy($"lang")
  }

  /** X150 — Spearman rank-discordance audit: does account balance predict
    * customer spend? Both variables rank through [[graft.operators
    * .GlobalOrder]] (two range shuffles — no unpartitioned window), the
    * squared rank differences fold to one row, and the verdict is the
    * integer discordance `6·Σd²·1000 div n(n²−1)` — 0 = perfectly
    * concordant, 1000 = independent, 2000 = perfectly reversed
    * (Spearman ρ = 1 − disc/1000). Ties break deterministically by
    * custkey, so ranks are permutations and the formula is exact.
    *
    * Headroom: 6·Σd²·1000 stays inside int64 up to n ≈ 10⁵ entities;
    * beyond that, run the audit on a fingerprint-sampled subset (a rank
    * correlation is a statistical read — sampling is the norm).
    *
    * Scale: spend is one combinable custkey fold; each ranking is a
    * GlobalOrder range shuffle over the customer frame; the discordance
    * fold is a 1-row aggregate. */
  def q182SpearmanAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.load(s, dir, "customer")
      .select($"c_custkey", graft.functions.Exact.cents($"c_acctbal").as("bal_cents"))
    val spend = Tables.load(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(graft.functions.Exact.cents($"o_totalprice")).as("spend_cents"))
    val base = c.join(spend, $"c_custkey" === $"o_custkey", "left")
      .select($"c_custkey", $"bal_cents",
        coalesce($"spend_cents", lit(0L)).as("spend_cents"))
    val rBal = graft.operators.GlobalOrder.withRowNumber(
      base, Seq($"bal_cents".asc, $"c_custkey".asc), "r_bal")
    val rBoth = graft.operators.GlobalOrder.withRowNumber(
      rBal, Seq($"spend_cents".asc, $"c_custkey".asc), "r_spend")
    rBoth.select((($"r_bal" - $"r_spend") * ($"r_bal" - $"r_spend")).as("d2"))
      .agg(count(lit(1)).as("n"), sum($"d2").as("sum_d2"))
      .select($"n", $"sum_d2",
        expr("6 * sum_d2 * 1000 div (n * (n * n - 1))").as("discordance_millis"))
  }

  /** X157 — mixture rebalance EXECUTION: materialize q151's plan — each
    * document replicates `factor_ppm div 10⁶` times plus one fractional
    * copy when its fingerprint lands below `factor_ppm mod 10⁶` (the
    * deterministic Bernoulli that makes the resample replayable under
    * retries), then the achieved mixture is audited against the plan's
    * targets. q151 is the planner; this is the worker a data-mixing job
    * actually runs — and the audit that catches integer-rounding drift
    * between planned and achieved shares.
    *
    * Scale: the \|langs\| factor frame broadcasts onto the corpus; the
    * replication is a narrow bounded explode (factor-many copies); the
    * achieved fold is combinable with a broadcast 1-row total. Documents
    * scan once. */
  def q189RebalanceApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val factors = broadcast(q151RebalancePlan(s, dir)
      .select($"lang", $"target_ppm", $"factor_ppm"))
    val applied = docs(s, dir)
      .select($"lang", $"doc_id",
        size(split($"text", " ")).cast("long").as("n_toks"),
        expr("graft_fingerprint(concat(coalesce(text, ''), CAST(doc_id AS STRING)))")
          .as("fp"))
      .join(factors, Seq("lang"))
      .withColumn("copies",
        expr("factor_ppm div 1000000 + IF(fp % 1000000 < factor_ppm % 1000000, 1L, 0L)"))
      .filter($"copies" >= 1)
      .select($"lang", $"target_ppm", $"n_toks",
        explode(expr("sequence(1L, copies)")).as("copy_idx"))
    val byLang = applied.groupBy($"lang")
      .agg(max($"target_ppm").as("target_ppm"),
        count(lit(1)).as("achieved_docs"),
        sum($"n_toks").as("achieved_tokens"))
    val total = byLang.agg(sum($"achieved_tokens").as("total_tokens"))
    byLang.crossJoin(broadcast(total))
      .withColumn("achieved_ppm",
        expr("achieved_tokens * 1000000 div total_tokens"))
      .withColumn("delta_ppm", abs($"achieved_ppm" - $"target_ppm"))
      .select($"lang", $"achieved_docs", $"achieved_tokens",
        $"achieved_ppm", $"target_ppm", $"delta_ppm")
      .orderBy($"lang")
  }

  /** X127 — nearest-length eval pairing: for every held-out document
    * (content-hash band 9 of q61's fingerprint convention — a replayable
    * ~10% split), find the training document of the same language with
    * the closest smaller (n_chars, doc_id) key — the matched-control
    * construction behind paired eval protocols (compare model scores on
    * like-for-like lengths, ablate length as a confound).
    *
    * The scalar as-of trick (X16, generalized off the time axis): instead
    * of a range self-join eval×train on "largest key below mine", ONE
    * window over the language-partitioned (n_chars, doc_id) total order
    * carries the last-seen TRAIN payload (last_value ignore-nulls over a
    * strictly-preceding frame) onto every eval row. No cross product at
    * any scale; the composite key packs into one BIGINT (chars·10¹² +
    * id — distinct to 10¹² docs and ~9.2·10⁶ chars) so the oracle's
    * ASOF join sees the identical total order.
    *
    * Scale: ONE language partitioning; payload is a 2-field struct; eval
    * rows filter AFTER the window (they must observe train neighbors),
    * but nothing wider than (lang, key, struct) ever shuffles. */
  def q160LengthPair(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val w = Window.partitionBy($"lang").orderBy($"k")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs(s, dir)
      .withColumn("fp",
        expr("graft_fingerprint(concat(coalesce(text, ''), CAST(doc_id AS STRING)))"))
      .withColumn("is_eval", $"fp" % 10 === 9)
      // 10^12 multiplier: doc ids stay distinct from length bits up to
      // 10^12 docs and ~9.2M chars — int64 headroom documented, not hoped
      .withColumn("k", $"n_chars" * 1000000000000L + $"doc_id")
      .withColumn("pair", last(
        when(!$"is_eval", struct($"doc_id".as("id"), $"n_chars".as("chars"))),
        ignoreNulls = true).over(w))
      .filter($"is_eval")
      .select($"lang", $"doc_id", $"n_chars",
        $"pair.id".as("pair_doc_id"), $"pair.chars".as("pair_chars"),
        ($"n_chars" - $"pair.chars").as("char_gap"))
      .orderBy($"lang", $"doc_id")
  }

  /** X128 — right-to-be-forgotten deletion audit: apply a deletion-request
    * list (arriving as DATA — here the planted doc_id ≡ 0 (mod 19) set)
    * to the corpus via anti-join and prove the result: per language,
    * before/after/deleted counts, a residual probe (after-side rows still
    * matching the request rule — must be 0), and the fingerprint-sum
    * delta, which reconciles exactly because Σfp(before) − Σfp(after) =
    * Σfp(deleted) for an order-independent sum.
    *
    * Scale: the request list projects to its key column and broadcasts
    * (real deletion lists are ≪ corpus); the anti-join moves only
    * (doc_id, lang, fp); both report aggs are combinable into |langs|
    * frames. Text never shuffles; the corpus scans twice (before/after
    * legs) against once for an unaudited delete — the audit's price. */
  def q161ForgetAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val d = docs(s, dir).select($"doc_id", $"lang",
      expr("graft_fingerprint(concat(coalesce(text, ''), CAST(doc_id AS STRING)))")
        .as("fp"))
    val requests = d.filter($"doc_id" % 19 === 0).select($"doc_id")
    val after = d.join(broadcast(requests), Seq("doc_id"), "left_anti")
    val before = d.groupBy($"lang")
      .agg(count(lit(1)).as("before_docs"), sum($"fp").as("before_fpsum"))
    val afterAgg = after.groupBy($"lang")
      .agg(count(lit(1)).as("after_raw"), sum($"fp").as("after_fpsum_raw"),
        sum(when($"doc_id" % 19 === 0, 1L).otherwise(0L)).as("residual_raw"))
    // LEFT join from the before frame: a language whose every document was
    // requested for deletion must still report (after_docs = 0), not
    // vanish — q159's fully-blocked-source rule
    before.join(afterAgg, Seq("lang"), "left")
      .select($"lang", $"before_docs",
        coalesce($"after_raw", lit(0L)).as("after_docs"),
        ($"before_docs" - coalesce($"after_raw", lit(0L))).as("deleted_docs"),
        coalesce($"residual_raw", lit(0L)).as("residual"),
        ($"before_fpsum" - coalesce($"after_fpsum_raw", lit(0L)))
          .as("deleted_fpsum"))
      .orderBy($"lang")
  }

  /** X129 — feature-hashing collision audit: the hashing trick maps a
    * categorical space (here nation × market segment, 125 categories)
    * into a fixed 64-bucket feature space; before training on hashed
    * features, measure what collided — per bucket: distinct categories,
    * row mass, and a collision flag. The portable fingerprint is the
    * hash, so the bucket assignment is replayable in any engine.
    *
    * Scale: the category hash is a narrow projection on the (broadcast-
    * dimension-joined) fact; ONE combinable (bucket, category) distinct
    * + bucket fold — both frames are category-space-sized, never fact-
    * sized; the 64-row report orders by bucket. */
  def q162FeatureHashing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val cust = Tables.load(s, dir, "customer")
    val nation = Tables.load(s, dir, "nation")
    val cat = cust.join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .select(concat($"n_name", lit("|"), $"c_mktsegment").as("category"))
      .withColumn("bucket", expr("graft_fingerprint(category) % 64"))
    cat.groupBy($"bucket", $"category").agg(count(lit(1)).as("n"))
      .groupBy($"bucket")
      .agg(countDistinct($"category").as("n_categories"),
        sum($"n").as("n_rows"))
      .withColumn("collided", when($"n_categories" > 1, 1L).otherwise(0L))
      .orderBy($"bucket")
  }

  /** X184 — spend-decile transition matrix: each customer's exact spend
    * decile in the EARLY half of the order history vs the LATE half —
    * the customer-value drift report (who climbed, who churned; decile 0
    * = absent from that half). Deciles are X82's exact rank math
    * ((rn−1)·10 div n + 1) over the (spend, custkey) total order — no
    * engine-ambiguous ntile, no unpartitioned window.
    *
    * Scale: each half is one combinable custkey fold + a GlobalOrder
    * two-phase range shuffle on the (key, spend) projection; the
    * transition fold lands on a ≤11×11 frame. */
  def q216SpendDecileShift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cut = lit("1998-07-01").cast("timestamp")
    val o = Tables.load(s, dir, "orders")
      .select($"o_custkey", $"o_orderdate",
        graft.functions.Exact.cents($"o_totalprice").as("cents"))
    def decile(cond: org.apache.spark.sql.Column, out: String): DataFrame = {
      val spend = o.filter(cond).groupBy($"o_custkey")
        .agg(sum($"cents").as("spend"))
      val (ranked, n) = graft.operators.GlobalOrder.withRowNumberAndTotal(
        spend.select($"o_custkey", $"spend"), Seq($"spend", $"o_custkey"), "rn")
      ranked.selectExpr("o_custkey", s"(rn - 1) * 10 div ${n}L + 1 AS $out")
    }
    decile($"o_orderdate" < cut, "early_decile")
      .join(decile($"o_orderdate" >= cut, "late_decile"),
        Seq("o_custkey"), "full_outer")
      .select(coalesce($"early_decile", lit(0L)).as("early_decile"),
        coalesce($"late_decile", lit(0L)).as("late_decile"))
      .groupBy($"early_decile", $"late_decile")
      .agg(count(lit(1)).as("n_custs"))
      .orderBy($"early_decile", $"late_decile")
  }

  /** X193 — importance-weighted data selection (DSIR-style): score every
    * document by how much more its HASHED unigram features look like a
    * TARGET domain (here: source `src0`) than like the raw corpus —
    * score = Σ_tokens (ppm_target(b) − ppm_raw(b)) over feature buckets
    * b = fingerprint(w) mod 8192, the integer-exact surrogate of the
    * hashed-n-gram log-likelihood-ratio importance weight (counts stand
    * in for log-probs so the oracle hash-matches; the ranking is what
    * drives selection, and both orderings are monotone in their ratio).
    * Bucket hashing is the published design, not a shortcut: it is what
    * makes the feature dictionary FIXED-SIZE regardless of vocabulary.
    * Target-dead buckets contribute −ppm_raw(b): actively penalized, not
    * ignored. The selection use: rank the corpus, keep the top slice
    * that "looks like" the target.
    *
    * Scale: ONE combinable bucket fold computes both rates (the target
    * count is a conditional sum inside the same pass — q170's one-pass
    * rule) and lands on ≤8192 rows; the totals ride an unpartitioned
    * window over that FIXED-SIZE frame (bounded by construction — the
    * no-unpartitioned-windows rule bans them on data-sized frames only);
    * the 8192-row dictionary BROADCASTS into the token stream — unlike
    * q107's vocabulary-sized dictionary there is no corpus-sized shuffle
    * on the feature key at ANY corpus size; the only data-sized exchange
    * is the per-doc fold. int64 headroom: |Σ tf·Δppm| ≤ n_tokens(doc)·10⁶
    * — safe to 10¹²-token documents. */
  def q225ImportanceWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val toks = docs(s, dir)
      .select($"doc_id", $"source", explode(split($"text", " ")).as("w"))
      .select($"doc_id", $"source",
        expr("graft_fingerprint(w) % 8192").as("b"))
    val stats = toks.groupBy($"b")
      .agg(count(lit(1)).as("n_raw"),
        sum(when($"source" === "src0", 1L).otherwise(0L)).as("n_tgt"))
    val all = Window.partitionBy()
    val dict = stats
      .withColumn("t_raw", sum($"n_raw").over(all))
      .withColumn("t_tgt", sum($"n_tgt").over(all))
      // t_tgt = 0 (no target-source docs) degrades to pure raw-rate
      // penalties instead of NULL scores — and matches the oracle, whose
      // bare integer division would otherwise ERROR while Spark's div
      // silently returns NULL (the engines must agree on degenerates)
      .select($"b",
        (expr("CASE WHEN t_tgt = 0 THEN 0 ELSE n_tgt * 1000000 div t_tgt END") -
          expr("n_raw * 1000000 div t_raw")).as("delta_ppm"))
    toks.join(broadcast(dict), Seq("b"))
      .groupBy($"doc_id")
      .agg(max($"source").as("source"),
        count(lit(1)).as("n_tokens"),
        sum($"delta_ppm").as("dsir_score"))
      .orderBy($"doc_id")
  }

  /** q315's integer IPF scaling step, shared by operator, spec replay,
    * and (structurally) the generated oracle: one proportional-fitting
    * pass over one margin — every cell's 1e6-scale weight is multiplied
    * by its margin's target/achieved ratio with TRUNCATING division
    * (w * t * 1e6 div Σ n·w), so both engines reproduce the fixpoint
    * path bit-for-bit. */
  private[graft] def ipfStep(cells: Seq[(String, String, Long, Long)],
      targets: Map[String, Long], byRow: Boolean)
      : Seq[(String, String, Long, Long)] = {
    val key = (c: (String, String, Long, Long)) => if (byRow) c._1 else c._2
    val mass = cells.groupBy(key).view
      .mapValues(_.map(c => c._3 * c._4).sum).toMap
    cells.map { c =>
      (c._1, c._2, c._3, c._4 * (targets(key(c)) * 1000000L) / mass(key(c)))
    }
  }

  /** X287 — dataset composition raking (iterative proportional fitting):
    * the published IPF/raking algorithm survey statisticians and
    * dataset-balancing pipelines use when BOTH marginals must hit
    * targets at once — q82 reweights the lang margin and q151/q189
    * rebalance per-source, but nothing satisfied two margins
    * simultaneously. Targets here are equal shares per lang and per
    * source (remainders to the lexicographically-first values, so both
    * margin targets sum to N exactly); three row/column scaling rounds
    * of the integer 1e6-scale step ([[ipfStep]]) converge the grid; the
    * output carries each observed (lang, source) cell's final weight,
    * its margin targets, and the achieved margin masses — the residual
    * IS the report (spec pins that round 3's worst margin error is no
    * worse than round 1's and the final row margins land within
    * rounding of target).
    *
    * Scale: ONE corpus-sized (lang, source) count fold; the IPF loop
    * acts on the |langs|×|sources| grid (100 cells here) driver-side —
    * at any corpus size the grid is dictionary-bounded. The 1e6-scale
    * products stay < 2^63 up to ~1e10 doc·weight mass; past that the
    * same recurrence runs in 128-bit (DuckDB already does natively). */
  def q315CompositionRaking(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells0 = docs(s, dir)
      .groupBy($"lang", $"source").agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().sortBy(c => (c._1, c._2))
    val n = cells0.map(_._3).sum
    def equalTargets(keys: Seq[String]): Map[String, Long] = {
      val L = keys.length
      keys.sorted.zipWithIndex.map { case (k, i) =>
        k -> (n / L + (if (i < (n % L)) 1L else 0L))
      }.toMap
    }
    val lt = equalTargets(cells0.map(_._1).distinct)
    val st = equalTargets(cells0.map(_._2).distinct)
    var cells = cells0.map(c => (c._1, c._2, c._3, 1000000L)).toSeq
    (1 to 3).foreach { _ =>
      cells = ipfStep(cells, lt, byRow = true)
      cells = ipfStep(cells, st, byRow = false)
    }
    // divide once AFTER the margin sum: per-cell truncation of ~5-doc
    // cell masses lost up to 20% of the margin in the report (weights
    // are exact; only this statistic was coarse)
    val rowMass = cells.groupBy(_._1).view
      .mapValues(_.map(c => c._3 * c._4).sum / 1000000L).toMap
    val colMass = cells.groupBy(_._2).view
      .mapValues(_.map(c => c._3 * c._4).sum / 1000000L).toMap
    import org.apache.spark.sql.types._
    LocalReport.frame(s, cells.sortBy(c => (c._1, c._2)).map { c =>
      org.apache.spark.sql.Row(c._1, c._2, c._3, c._4,
        lt(c._1), rowMass(c._1), st(c._2), colMass(c._2))
    },
      ("lang", StringType), ("source", StringType), ("n_docs", LongType),
      ("weight_ppm", LongType), ("lang_target", LongType),
      ("lang_achieved", LongType), ("source_target", LongType),
      ("source_achieved", LongType))
  }

  /** X199 — context-window packing-efficiency sweep: for each candidate
    * training context length, the padding waste of the two standard
    * batching strategies — PAD (each document alone, last window padded;
    * what instruction-tuning pipelines do) vs CONCAT (X39's
    * concat-and-chunk stream; what pretraining does) — as integer-exact
    * window counts and waste ppm. The report is the decision table for
    * choosing max_seq_len and strategy before a run: pad waste explodes
    * as capacity outgrows the median document while concat waste is at
    * most one window's tail.
    *
    * Scale: ONE narrow scan projects each document to its token count,
    * a ×\|capacities\| explode (3 literals) keeps the fold combinable,
    * and the grouped frame is \|capacities\|-sized; the CONCAT figures
    * derive arithmetically from the same fold's totals — no second scan,
    * no shuffle beyond the one capacity-keyed fold. int64: Σ⌈len/C⌉·C
    * ≤ Σlen + n·C — safe past 10¹⁵ tokens. */
  def q231PackingEfficiency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val caps = Seq(128L, 512L, 2048L)
    val perDoc = docs(s, dir)
      .select(size(split($"text", " ")).cast("long").as("n_tok"))
      .select($"n_tok", explode(lit(caps.toArray)).as("capacity"))
    perDoc.groupBy($"capacity")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tok").as("total_tokens"),
        sum(expr("(n_tok + capacity - 1) div capacity")).as("pad_windows"))
      .withColumn("pad_waste", $"pad_windows" * $"capacity" - $"total_tokens")
      .withColumn("pad_waste_ppm",
        expr("pad_waste * 1000000 div (pad_windows * capacity)"))
      .withColumn("concat_windows",
        expr("(total_tokens + capacity - 1) div capacity"))
      .withColumn("concat_waste",
        $"concat_windows" * $"capacity" - $"total_tokens")
      .withColumn("concat_waste_ppm",
        expr("concat_waste * 1000000 div (concat_windows * capacity)"))
      .orderBy($"capacity")
  }

  /** X228 — special-token / chat-template contamination scan: reserved
    * tokenizer strings leaking into training text corrupt the tokenizer
    * contract — a document containing a literal `<|endoftext|>` splices
    * itself across example boundaries, FIM sentinels teach the model to
    * emit control tokens, and chat-template markers bleed instruction
    * formatting into pretraining. Three detector classes; the ONE pattern
    * needing escapes ([[ChatMarkers]] — Java regex, unlike RE2, rejects
    * the POSIX `[]]` literal-bracket class) is defined once and re-escaped
    * per engine, so the detectors cannot drift.
    * Ground truth planted per document from doc_id (q246's idiom):
    * ≡1 (mod 4) gets a reserved token AND a FIM sentinel, ≡2 a full chat
    * template (three marker hits), ≡3 a NEAR-MISS (`<endoftext>` without
    * pipes, an unclosed `[INST`) that must NOT fire, ≡0 nothing.
    *
    * Scale: plant + three regexp_extract_all passes are codegen'd string
    * work at scan throughput; zero shuffles before the final orderBy. */
  /** The q259 chat-template pattern, single definition: the oracle embeds
    * it verbatim (DuckDB strings do not process backslashes), the Spark
    * leg via [[chatMarkersSparkLit]] (Spark SQL strings DO, so each \
    * doubles). */
  private[graft] val ChatMarkers = """\[/?INST\]|<</?SYS>>"""
  private[graft] def chatMarkersSparkLit: String = ChatMarkers.replace("\\", "\\\\")

  /** The other two q259 detector classes, single definitions shared with
    * q313's span annotator (no escapes — safe inline in both engines). */
  private[graft] val ReservedTokens = "<[|][a-z_]+[|]>"
  private[graft] val FimSentinels = "<fim_[a-z]+>"

  def q259SpecialTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("t2", concat(coalesce($"text", lit("")),
        when(pmod($"doc_id", lit(4L)) === 1,
          lit(" <|endoftext|> <fim_prefix> tail"))
          .when(pmod($"doc_id", lit(4L)) === 2,
            lit(" [INST] do a thing [/INST] <<SYS>> x"))
          .when(pmod($"doc_id", lit(4L)) === 3,
            lit(" <endoftext> plain [INST tag"))
          .otherwise(lit("")),
        lit(" end")))
      .select($"doc_id",
        size(expr(s"regexp_extract_all(t2, '$ReservedTokens', 0)"))
          .cast("long").as("n_reserved"),
        size(expr(s"regexp_extract_all(t2, '$chatMarkersSparkLit', 0)"))
          .cast("long").as("n_chat_markers"),
        size(expr(s"regexp_extract_all(t2, '$FimSentinels', 0)"))
          .cast("long").as("n_fim"))
      .withColumn("has_special",
        when($"n_reserved" + $"n_chat_markers" + $"n_fim" > 0, 1L).otherwise(0L))
      .orderBy($"doc_id")
  }

  /** X284 — loss-masking span annotation: the non-destructive output
    * contract modern training pipelines want — KEEP the text, emit
    * (masked char ranges, reason) per document, and let the trainer zero
    * the loss over the spans instead of shredding the bytes (q81/q260/
    * q267 redact or strip; this ANNOTATES). Masking is line-granular:
    * a line masks if it trips the shared PII regexes ([[PiiPatterns]]),
    * the shared secret regexes ([[SecretPatterns]]), the shared
    * special-token detectors (q259's [[ReservedTokens]]/[[ChatMarkers]]/
    * [[FimSentinels]]), or q267's frequent-line boilerplate rule
    * (df >= 2 and >= [[DedupOps.LineBoilerThresholdPpm]] of the source)
    * — ONE definition per detector, so the annotator can never silently
    * diverge from the scrubbers it composes. Adjacent masked lines
    * COALESCE into maximal spans (q138's interval-union idea as
    * gaps-and-islands); `spans_fp` fingerprints the ordered
    * 'start-end' list and `kept_fp` the mask-APPLIED text, so the oracle
    * pins both the annotation and its application. Plants (by doc_id mod
    * 5): an email line, a credential line, a special-token line, and the
    * email+credential ADJACENT pair that must coalesce to one span; an
    * id-salted 'section' line separates the always-boiler header block
    * from the plant block so islands are genuinely plural.
    *
    * Scale: the line frame is a narrow explode; the boilerplate fold is
    * ONE (source, line) aggregate joined back broadcast (q267's shape);
    * offsets, islands, span agg and doc agg all ride ONE doc_id
    * partitioning (filter preserves it; grouping keys are supersets).
    * Nothing pairwise, nothing corpus-sized on the driver. */
  /** q313's planted corpus and boilerplate set, factored so the
    * streaming twin ([[graft.streaming.EventStream.lossMaskGate]]) can
    * be fed the IDENTICAL standing boiler frame the batch operator
    * derives — one rule, two execution modes. */
  private[graft] def q313Base(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idm = (k: Long) => pmod($"doc_id", lit(k))
    val emailLine = concat(lit("\nreach me at user"),
      idm(1000L).cast("string"), lit("@example.com"))
    val secretLine = concat(lit("\ntoken=secretvaluepad"),
      lpad(idm(1000L).cast("string"), 3, "0"))
    docs(s, dir).select($"doc_id", $"source",
      concat(coalesce($"text", lit("")),
        lit("\n(C) "), $"source", lit(" syndication network"),
        when(idm(3L) =!= 2L,
          concat(lit("\nsubscribe at "), $"source", lit(" daily digest")))
          .otherwise(lit("")),
        concat(lit("\nsection "), idm(7L).cast("string"), lit(" notes")),
        when(idm(5L) === 1L, emailLine)
          .when(idm(5L) === 2L, secretLine)
          .when(idm(5L) === 3L, concat(lit("\nstop <|endoftext|> marker "),
            idm(7L).cast("string")))
          .when(idm(5L) === 4L, concat(emailLine, secretLine))
          .otherwise(lit(""))).as("t2"))
  }

  /** The q267-rule boilerplate frame over [[q313Base]]'s lines:
    * (source, ln) pairs with df >= 2 and >= 20% of the source. */
  private[graft] def q313BoilerFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lines = q313Base(s, dir).select($"doc_id", $"source",
      posexplode(split($"t2", "\n", -1)).as(Seq("pos", "ln")))
    val srcN = docs(s, dir).groupBy($"source")
      .agg(count(lit(1)).as("n_docs"))
    lines.groupBy($"source", $"ln")
      .agg(countDistinct($"doc_id").as("df"))
      .join(broadcast(srcN), Seq("source"))
      .filter($"df" >= 2 && expr(
        s"df * 1000000 div n_docs >= ${DedupOps.LineBoilerThresholdPpm}"))
      .select($"source", $"ln")
  }

  def q313LossMasks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val lines = q313Base(s, dir).select($"doc_id", $"source",
      posexplode(split($"t2", "\n", -1)).as(Seq("pos", "ln")))
    val boiler = q313BoilerFrame(s, dir).withColumn("bhit", lit(1L))
    val flagged = lines
      .join(broadcast(boiler), Seq("source", "ln"), "left")
      .withColumn("is_boiler", $"bhit".isNotNull)
      .withColumn("is_pii", $"ln".rlike(PiiPatterns.Email) ||
        $"ln".rlike(PiiPatterns.Ipv4) || $"ln".rlike(PiiPatterns.LongNumber))
      .withColumn("is_secret", $"ln".rlike(SecretPatterns.HexRun) ||
        $"ln".rlike(SecretPatterns.AwsKeyId) ||
        $"ln".rlike(SecretPatterns.CredAssign))
      .withColumn("is_special", $"ln".rlike(ReservedTokens) ||
        $"ln".rlike(ChatMarkers) || $"ln".rlike(FimSentinels))
      .withColumn("masked",
        $"is_boiler" || $"is_pii" || $"is_secret" || $"is_special")
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val withOff = flagged
      .withColumn("st", coalesce(sum((length($"ln") + 1).cast("long"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("en", $"st" + length($"ln").cast("long"))
    val spans = withOff.filter($"masked")
      .withColumn("grp", $"pos" - row_number().over(w))
      .groupBy($"doc_id", $"grp")
      .agg(min($"st").as("sp_start"), max($"en").as("sp_end"))
    val spanAgg = spans.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum($"sp_end" - $"sp_start").as("masked_chars"),
        expr("""graft_fingerprint(array_join(transform(
          |  array_sort(collect_list(struct(sp_start, sp_end))),
          |  x -> concat(CAST(x.sp_start AS STRING), '-',
          |              CAST(x.sp_end AS STRING))), ','))""".stripMargin)
          .as("spans_fp"))
    val docAgg = withOff.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when($"masked", 1L).otherwise(0L)).as("n_masked_lines"),
        sum(when($"is_pii", 1L).otherwise(0L)).as("n_pii_lines"),
        sum(when($"is_secret", 1L).otherwise(0L)).as("n_secret_lines"),
        sum(when($"is_special", 1L).otherwise(0L)).as("n_special_lines"),
        sum(when($"is_boiler", 1L).otherwise(0L)).as("n_boiler_lines"),
        (sum(length($"ln").cast("long")) + count(lit(1)) - 1)
          .as("total_chars"),
        expr("""graft_fingerprint(coalesce(array_join(transform(
          |  array_sort(collect_list(CASE WHEN NOT masked
          |    THEN struct(pos, ln) END)),
          |  x -> x.ln), char(10)), ''))""".stripMargin).as("kept_fp"))
    docAgg.join(spanAgg, Seq("doc_id"), "left")
      .select($"doc_id", $"n_lines", $"n_masked_lines",
        coalesce($"n_spans", lit(0L)).as("n_spans"),
        coalesce($"masked_chars", lit(0L)).as("masked_chars"),
        $"total_chars",
        expr("coalesce(masked_chars, 0L) * 1000000 div total_chars")
          .as("mask_ppm"),
        $"n_pii_lines", $"n_secret_lines", $"n_special_lines",
        $"n_boiler_lines",
        coalesce($"spans_fp", lit(0L)).as("spans_fp"), $"kept_fp")
      .orderBy($"doc_id")
  }

  /** q257 planted cells (disjoint negative-id range): 'zz-sdc-plant'
    * guarantees the complementary branch at every SF (aa=3 is primary;
    * bb=25 is the smallest unsuppressed cell, so it must be suppressed
    * too or the published row total pins aa); 'zz-sdc-lone' has a single
    * primary cell and nothing to complement, so its MARGIN is suppressed. */
  private[graft] val SdcPlant: Seq[(Long, String, String)] =
    (0 until 3).map(i => (-401L - i, "zz-sdc-plant", "aa")) ++
    (0 until 25).map(i => (-411L - i, "zz-sdc-plant", "bb")) ++
    (0 until 30).map(i => (-441L - i, "zz-sdc-plant", "cc")) ++
    (0 until 4).map(i => (-481L - i, "zz-sdc-lone", "aa"))

  /** X226 — statistical-disclosure-control release (census-style cell
    * suppression): publishing per-(source, lang) document counts about a
    * corpus leaks membership when cells are small — the standard SDC
    * answer is PRIMARY suppression of cells below the threshold (K=10),
    * COMPLEMENTARY suppression where a published row margin would pin a
    * lone suppressed cell by subtraction (the smallest unsuppressed cell
    * in that row goes too; ties break on lang), margin suppression when a
    * row has nothing left to complement with, and rounding of everything
    * released to the nearest 10. Column margins are simply NOT published
    * — the single-dimension heuristic; LP-optimal multi-dimensional
    * suppression is out of scope and documented as such. Output: every
    * cell plus one '~total' margin row per source, each with the true
    * count, the released value (-1 = suppressed), and its status — the
    * release AND its audit trail in one frame.
    *
    * Scale: one (source, lang) count aggregate (map-side partial), two
    * |sources|-partitioned windows over the CELL frame (cell count, not
    * corpus count), one |sources| margin fold. Nothing data-sized past
    * the first aggregate. */
  def q257SdcRelease(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = docs(s, dir).select($"doc_id", $"source", $"lang")
      .unionByName(SdcPlant.toDF("doc_id", "source", "lang"))
    val cells = base.groupBy($"source", $"lang").agg(count(lit(1)).as("n"))
      .withColumn("pri", $"n" < 10)
    val wSrc = Window.partitionBy($"source")
    val wRank = Window.partitionBy($"source", $"pri").orderBy($"n", $"lang")
    val tagged = cells
      .withColumn("n_pri", sum(when($"pri", 1L).otherwise(0L)).over(wSrc))
      .withColumn("rk_u", when(!$"pri", row_number().over(wRank)))
      .withColumn("status",
        when($"pri", "primary")
          .when($"n_pri" === 1 && $"rk_u" === 1, "complementary")
          .otherwise("ok"))
    val rel = tagged.select($"source", $"lang", $"n".as("n_docs"),
      when($"status" === "ok", expr("((n + 5) div 10) * 10"))
        .otherwise(-1L).as("released"),
      $"status")
    val margins = tagged.groupBy($"source")
      .agg(sum($"n").as("n_docs"),
        sum(when($"status" === "primary", 1L).otherwise(0L)).as("np"),
        sum(when($"status" =!= "primary", 1L).otherwise(0L)).as("nu"))
      .select($"source", lit("~total").as("lang"), $"n_docs",
        when($"np" >= 1 && $"nu" === 0, -1L)
          .otherwise(expr("((n_docs + 5) div 10) * 10")).as("released"),
        when($"np" >= 1 && $"nu" === 0, "margin_suppressed")
          .otherwise(lit("margin")).as("status"))
    rel.unionByName(margins).orderBy($"source", $"lang")
  }

  /** X297 — UniMax epoch-capped language budgets (the published UniMax
    * allocation): distribute a training token budget (2× the corpus —
    * data-derived, deterministic) across languages as UNIFORMLY as
    * possible subject to a hard max-epochs cap (E = 3) per language —
    * the principled successor to temperature sampling that stops
    * low-resource languages from being repeated into overfitting.
    * The published waterfall, integer-exact: languages ascend by
    * (n_tokens, lang); each takes min(remaining // remaining_langs,
    * E·n_tokens); its allocation leaves the pool. A language is CAPPED
    * exactly when its 3-epoch ceiling undercuts the uniform share — the
    * planted-low-resource spec pins epochs_permille = 3000 exactly.
    * The report reconciles against q82's shared sqrt-temperature
    * weights ([[mixtureWeights]] — one definition) and carries q250's
    * split-form permille epoch math (no b·1000 overflow at corpus
    * token counts).
    *
    * Scale: ONE combinable corpus fold to the |langs| frame (q82's
    * shape); the waterfall is a driver fold over that bounded
    * dictionary; the DuckDB oracle replays it as a recursive CTE with a
    * BIGINT-only accumulator (safe — the banned lane is struct
    * accumulators in list lambdas). */
  def q324UnimaxBudget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    val lf = mixtureWeights(docs(s, dir)
        .select($"lang", size(split($"text", " ")).cast("long").as("n_toks")))
      .select($"lang", $"n_tokens", $"weight_ppm")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val eCap = 3L
    val budget = 2L * lf.map(_._2).sum
    var r = budget
    var m = lf.length.toLong
    val alloc = lf.sortBy { case (l, n, _) => (n, l) }(
      Ordering.Tuple2(Ordering.Long, TextOps.utf8Ordering)).map {
      case (lang, n, wppm) =>
        val share = r / m
        val cap = eCap * n
        val b = math.min(share, cap)
        r -= b; m -= 1
        val epochs = (b / n) * 1000L + ((b % n) * 1000L) / n
        (lang, n, wppm, cap, b, if (cap <= share) 1L else 0L,
          epochs, b * 1000L / budget)
    }
    LocalReport.frame(s,
      alloc.sortBy(_._1)(TextOps.utf8Ordering).map(t => org.apache.spark.sql.Row(
        t._1, t._2, t._3, t._4, t._5, t._6, t._7, t._8)).toSeq,
      "lang" -> StringType, "n_tokens" -> LongType,
      "weight_ppm" -> LongType, "cap_tokens" -> LongType,
      "budget_tokens" -> LongType, "capped" -> LongType,
      "epochs_permille" -> LongType, "share_permille" -> LongType)
  }

  /** X306 — Wald–Wolfowitz runs test for training-order shuffle quality:
    * X42 SHUFFLES (fingerprint-derived order) and X99 interleaves, but
    * nothing TESTED whether an order is actually free of sequential
    * structure. The published two-sided runs test over a binary
    * attribute: R runs among n items with n₁ positives has
    * E[R] = 1 + 2n₁n₀/n and a closed-form variance, and
    * z² = (n(R−1) − 2n₁n₀)²·(n−1) / (2n₁n₀·(2n₁n₀ − n)) — ENTIRELY
    * integer by clearing denominators, so the verdict is oracle-exact
    * with no libm (the cleared products exceed int64 at n ≈ 5000, so
    * the driver fold multiplies in BigInt and the oracle in HUGEINT;
    * the milli-scale quotient is ≤ 1000·n and lands back in int64).
    * TOO FEW runs = clumping; TOO MANY = periodicity — and the corpus's
    * round-robin ingest (source ≡ doc_id mod 20) exhibits BOTH in
    * doc_id order: `src_num < 10` forms 10-long blocks (z deeply
    * negative), `src_num even` alternates every document (z deeply
    * positive, runs = n), while the fingerprint shuffle passes two-sided
    * at |z| < 1.96 for both attributes (landing on exactly E[R] = 251
    * for one of them). The shuffle key is
    * `fp('shuf:' ‖ id ‖ ':' ‖ (id mod 1000003)²)` — the squared tail
    * rewrites MANY characters between consecutive ids, which is what
    * the rolling hash needs to avalanche. This test CAUGHT three weaker
    * keys in development: `fp` alone and `fp² div 65536` kept perfect
    * alternation (consecutive ids' fps differ by 1 and the square's
    * high bits sort in key order), and `fp² mod p` / a digit-reversed
    * double hash still carried |z| ≈ 3–9 residual structure — the test
    * is exactly the audit that justifies whatever key X42-family
    * shuffles use.
    *
    * Scale: per order ONE GlobalOrder rank pass + ONE uniform rn→rn+1
    * self-join counting transitions (never an unpartitioned lag window);
    * the statistics fold to a 1-row frame per (order, attr) and the
    * 4-row report assembles driver-side. */
  def q332RunsTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    Fingerprint.register(s)
    val base = docs(s, dir).select($"doc_id",
      when(expr("CAST(substring(source, 4) AS BIGINT)") < 10L, 1L)
        .otherwise(0L).as("y_low"),
      when(expr("CAST(substring(source, 4) AS BIGINT) % 2") === 0L, 1L)
        .otherwise(0L).as("y_even"),
      expr("graft_fingerprint(concat('shuf:', CAST(doc_id AS STRING), ':', " +
        "CAST(pmod(doc_id, 1000003) * pmod(doc_id, 1000003) AS STRING)))")
        .as("sk")).persist()
    try {
      def stats(orderCols: Seq[org.apache.spark.sql.Column])
          : (Long, Long, Long, Long, Long) = {
        val ranked = graft.operators.GlobalOrder
          .withRowNumber(base, orderCols, "rn")
        val tot = ranked.agg(count(lit(1)), sum($"y_low"), sum($"y_even"))
          .as[(Long, Long, Long)].head()
        val nxt = ranked.select(($"rn" - 1L).as("rn"),
          $"y_low".as("ne"), $"y_even".as("ns"))
        val tr = ranked.join(nxt, Seq("rn"))
          .agg(sum(when($"y_low" =!= $"ne", 1L).otherwise(0L)),
            sum(when($"y_even" =!= $"ns", 1L).otherwise(0L)))
          .as[(Long, Long)].head()
        (tot._1, tot._2, tot._3, tr._1 + 1L, tr._2 + 1L)
      }
      val nat = stats(Seq($"doc_id"))
      val shf = stats(Seq($"sk", $"doc_id"))
      def row(attr: String, order: String, n: Long, n1: Long, runs: Long) = {
        val n0 = n - n1
        // BigInt from the FIRST multiply: n·runs and 2·n1·n0 themselves
        // wrap int64 at n ≈ 3×10⁹ rows, long before the dev²·(n−1)
        // product does at n ≈ 5000 — promote before multiplying, never
        // after (the oracle casts the same inner products to HUGEINT)
        val dev = BigInt(n) * (runs - 1L) - BigInt(2) * n1 * n0
        val twoN1N0 = BigInt(2) * n1 * n0
        val den = twoN1N0 * (twoN1N0 - n)
        val z2m = if (den <= 0) -1L
          else (BigInt(1000) * dev * dev * (n - 1L) / den).toLong
        org.apache.spark.sql.Row(attr, order, n, n1, runs, z2m,
          if (dev > 0) 1L else if (dev < 0) -1L else 0L,
          if (z2m >= 0L && z2m < 3842L) 1L else 0L)
      }
      LocalReport.frame(s, Seq(
        row("src_even", "natural", nat._1, nat._3, nat._5),
        row("src_even", "shuffled", shf._1, shf._3, shf._5),
        row("src_low", "natural", nat._1, nat._2, nat._4),
        row("src_low", "shuffled", shf._1, shf._2, shf._4)),
        "attr" -> StringType, "order_name" -> StringType, "n" -> LongType,
        "n_pos" -> LongType, "n_runs" -> LongType, "z2_milli" -> LongType,
        "z_sign" -> LongType, "looks_random" -> LongType)
    } finally base.unpersist(blocking = false)
  }

  /** X304 — span-corruption example construction (the published T5/UL2
    * denoising objective, as a deterministic data transform): per
    * document, ~1/20 of token positions START a corruption span of
    * length 2–4 (mean 3 → ~15% corruption, T5's rate), overlapping
    * spans coalesce, and the example splits into INPUT (kept tokens with
    * one `<extra_id_k>` sentinel per span) and TARGET (each sentinel
    * followed by its span's tokens, plus the closing sentinel) — the
    * exact construction a denoising pretraining pipeline runs per
    * document. Span decisions come from middle-square-finalized
    * fingerprints of (doc_id, position) — the raw polynomial fp is
    * AFFINE in the position for same-length keys (q279/q291's lesson),
    * which would make every 20th position a span start instead of a
    * pseudo-random 1/20. Reconstruction (splice each target span back
    * at its sentinel) reproduces the original text exactly — the spec's
    * round-trip theorem.
    *
    * Scale: ONE doc_id-keyed position shuffle carries every window
    * (start/len lags, the corrupted-OR over the ≤ 4 preceding starts,
    * the span-ordinal running count); assembly is an ordered
    * collect_list fold per doc (document-bounded arrays); the output is
    * a per-document frame at scan-order cost. */
  def q330SpanCorruption(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val pos = docs(s, dir)
      .select($"doc_id", posexplode(expr(
        "filter(split(text, ' '), x -> x <> '')")).as(Seq("pos", "w")))
      .withColumn("h", expr(
        "(graft_fingerprint(concat(CAST(doc_id AS STRING), ':', CAST(pos AS STRING))) * " +
        "graft_fingerprint(concat(CAST(doc_id AS STRING), ':', CAST(pos AS STRING)))) div 65536"))
      .withColumn("is_start", when(pmod($"h", lit(20L)) === 0L, 1L).otherwise(0L))
      .withColumn("slen", lit(2L) + pmod(expr("h div 20"), lit(3L)))
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def covers(k: Int) = // a start k positions back whose span reaches here
      coalesce(lag($"is_start", k).over(w) === 1L &&
        lag($"slen", k).over(w) > k.toLong, lit(false))
    val marked = pos
      .withColumn("corrupted",
        when(covers(0) || covers(1) || covers(2) || covers(3), 1L)
          .otherwise(0L))
      .withColumn("new_span",
        when($"corrupted" === 1L &&
          coalesce(lag($"corrupted", 1).over(w), lit(0L)) === 0L, 1L)
          .otherwise(0L))
      .withColumn("span_ord", sum($"new_span").over(run))
    val pieces = marked
      .withColumn("input_piece", expr(
        """CASE WHEN corrupted = 0 THEN w
          |     WHEN new_span = 1
          |     THEN concat('<extra_id_', CAST(span_ord - 1 AS STRING), '>')
          |END""".stripMargin))
      .withColumn("target_piece", expr(
        """CASE WHEN new_span = 1
          |     THEN concat('<extra_id_', CAST(span_ord - 1 AS STRING), '> ', w)
          |     WHEN corrupted = 1 THEN w
          |END""".stripMargin))
    def assemble(piece: String) = expr(
      s"""concat_ws(' ', transform(array_sort(collect_list(
         |  CASE WHEN $piece IS NOT NULL
         |       THEN struct(pos AS p, $piece AS v) END)), x -> x.v))"""
        .stripMargin)
    pieces.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum($"corrupted").as("n_corrupted"),
        sum($"new_span").as("n_spans"),
        assemble("input_piece").as("inp"),
        assemble("target_piece").as("tgt"))
      .select($"doc_id", $"n_tokens", $"n_spans", $"n_corrupted",
        expr("n_corrupted * 1000000 div n_tokens").as("corrupted_ppm"),
        expr("graft_fingerprint(inp)").as("input_fp"),
        expr("graft_fingerprint(CASE WHEN n_spans = 0 THEN tgt ELSE " +
          "concat(tgt, ' <extra_id_', CAST(n_spans AS STRING), '>') END)")
          .as("target_fp"))
      .orderBy($"doc_id")
  }

  /** X303 — ordered target statistics vs naive mean encoding (CatBoost's
    * published leakage-free categorical encoding, plus the audit that
    * shows WHY): encoding a category by the mean of its own rows' target
    * leaks the label into the feature — catastrophically for rare
    * categories, where the naive encoding IS the row's own target. The
    * published fix computes each row's statistic from a PREFIX of a
    * pseudo-random permutation only: enc_i = (Σ_before y + prior) /
    * (n_before + 1). The permutation key is q332's squared-tail
    * fingerprint (`fp('ord:' ‖ key ‖ ':' ‖ (key mod 1000003)²)`): the
    * raw polynomial fp orders affinely with sequential keys and even
    * its middle-square stays locally monotone (consecutive keys' fps
    * differ by 1, the square's high bits sort in key order — q332's
    * runs test caught exactly this); the squared TAIL rewrites many
    * characters so the rolling hash avalanches. Target
    * = q291's ≥ $465k conversion, prior = the global mean in ppm. The
    * report puts naive and ordered encodings side by side per category
    * with their train-set MAE — `leak_gap_ppm` > 0 is the leakage
    * signature (naive looks "better" on train because it peeked), and
    * the planted single-row category 'X-PLANT' shows the extreme: naive
    * encodes its own target exactly (MAE 0), ordered falls back to the
    * prior.
    *
    * Scale: NO category-partitioned windows (a 5-value category key
    * would pin corpus-sized partitions — the CLAUDE.md skew rule):
    * the per-category EXCLUSIVE prefix derives from TWO GlobalOrder
    * two-phase passes over the (cat, perm, key) total order (rank +
    * running y-sum) minus collected per-category bases (|cats| rows,
    * driver-tiny); the report is a |cats|-row combinable fold. */
  def q329TargetEncoding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val plant = Seq((-901L, "X-PLANT", 99999999L))
      .toDF("okey", "cat", "cents")
    val o = Tables.load(s, dir, "orders")
      .select($"o_orderkey".cast("long").as("okey"),
        $"o_orderpriority".as("cat"),
        graft.functions.Exact.cents($"o_totalprice").as("cents"))
      .unionByName(plant)
      .withColumn("y", when($"cents" >= 46500000L, 1L).otherwise(0L))
      .withColumn("pk", expr(
        "graft_fingerprint(concat('ord:', CAST(okey AS STRING), ':', " +
        "CAST(pmod(okey, 1000003) * pmod(okey, 1000003) AS STRING)))"))
      .persist()
    try {
      val sort = Seq($"cat", $"pk", $"okey")
      val (ranked, total) = graft.operators.GlobalOrder
        .withRowNumberAndTotal(o, sort, "rn")
      val (summed, totalY) = graft.operators.GlobalOrder
        .withRunningSum(ranked, sort, "y", "ys")
      val priorPpm = totalY * 1000000L / total
      // per-category bases in (cat ASC) order — cat leads the total
      // order, so every earlier category wholly precedes this one
      val catTotals = o.groupBy($"cat")
        .agg(count(lit(1)).as("n"), sum($"y").as("sy"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        // UTF-8-byte sort: cat LEADS GlobalOrder's total order in Spark's
        // binary collation, and the bases assume strictly-earlier
        // categories — Java ordering would mis-base a supplementary-plane
        // category (CLAUDE.md's tie-break rule)
        .sortBy(_._1)(TextOps.utf8Ordering)
      val totalsSeq = catTotals.toSeq
      val cum = totalsSeq.scanLeft(("", 0L, 0L)) {
        case ((_, cn, cs), (cat, n, sy)) => (cat, cn + n, cs + sy)
      }
      val bases = totalsSeq.zipWithIndex.map { case ((cat, _, _), i) =>
        (cat, cum(i)._2, cum(i)._3) // prefix totals of strictly-earlier cats
      }.toDF("cat", "cnt_base", "sum_base")
      val enc = summed.join(broadcast(bases), Seq("cat"))
        .withColumn("cb", $"rn" - 1L - $"cnt_base")
        .withColumn("sb", $"ys" - $"y" - $"sum_base")
        .withColumn("ordered_ppm",
          expr(s"(sb * 1000000 + $priorPpm) div (cb + 1)"))
      val rep = enc.groupBy($"cat".as("category"))
        .agg(count(lit(1)).as("n_rows"), sum($"y").as("n_pos"),
          sum($"ordered_ppm").as("ord_sum"),
          sum(abs($"ordered_ppm" - $"y" * 1000000L)).as("ord_mae_sum"))
        .withColumn("prior_ppm", lit(priorPpm))
        .withColumn("naive_enc_ppm", expr("n_pos * 1000000 div n_rows"))
        .withColumn("mean_ordered_ppm", expr("ord_sum div n_rows"))
        .withColumn("mae_naive_ppm", expr(
          "(n_pos * (1000000 - naive_enc_ppm) + " +
          "(n_rows - n_pos) * naive_enc_ppm) div n_rows"))
        .withColumn("mae_ordered_ppm", expr("ord_mae_sum div n_rows"))
        .withColumn("leak_gap_ppm", $"mae_ordered_ppm" - $"mae_naive_ppm")
        .select($"category", $"n_rows", $"n_pos", $"prior_ppm",
          $"naive_enc_ppm", $"mean_ordered_ppm", $"mae_naive_ppm",
          $"mae_ordered_ppm", $"leak_gap_ppm")
        .orderBy($"category")
        .collect()
      import org.apache.spark.sql.types._
      LocalReport.frame(s, rep.toSeq,
        ("category", StringType), ("n_rows", LongType), ("n_pos", LongType),
        ("prior_ppm", LongType), ("naive_enc_ppm", LongType),
        ("mean_ordered_ppm", LongType), ("mae_naive_ppm", LongType),
        ("mae_ordered_ppm", LongType), ("leak_gap_ppm", LongType))
    } finally o.unpersist(blocking = false)
  }

  /** X294 — DSIR-class importance resampling for data selection (the
    * published Data-Selection-with-Importance-Resampling recipe, made
    * integer-exact): select raw documents toward a TARGET domain (here
    * the `lang = 'en'` slice stands in as the target corpus) by scoring
    * every document under hashed-bigram bag-of-ngrams models of target
    * and raw.
    *
    *  1. Features (q162's hashing trick): word bigrams →
    *     `graft_fingerprint % 128` buckets; one exploded pass feeds BOTH
    *     bucket-count models (raw count + target count in a single fold).
    *  2. Importance weights: per bucket the add-one-smoothed ppm
    *     probabilities pt/pr, then the log2 of their ratio in HALF-BIT
    *     resolution via the q130 bin-length idiom — `band(r²) − 39`
    *     where band(x) = length(bin(x)) − 1 = floor(log2 x) and r is the
    *     clamped ratio in ppm: integer-exact on both engines where a
    *     libm log would hash-diverge in the last ulp. A document's
    *     log-weight is the sum of its gram occurrences' half-bits.
    *  3. Resampling (q143's deterministic A-ES analogue, log domain):
    *     priority = band((fp+1)²) − llw — "log2 u² minus log2 w²" — keep
    *     the k = n/5 smallest via GlobalOrder's exact rank, never a
    *     driver-side top-k of a corpus-sized k. The hash term spans ~59
    *     half-bits, so it randomizes only within a ~2^30 weight band;
    *     across bands selection follows the importance weights — stated
    *     plainly: this is importance-BIASED deterministic selection,
    *     replayable under retries like every sampling lane here.
    *
    * The report is the |langs|-row composition shift: raw vs selected
    * share in ppm plus each language's total log-weight — the selected
    * mix must move toward the target marginals (the q321 spec plants a
    * disjoint negative-id target-twin corpus and asserts both the weight
    * ordering and the shift).
    *
    * Scale: ONE documents scan into a persisted narrow frame; the gram
    * explode is recomputed from that cache for its two folds (CPU over
    * caching a token-sized frame); the 128-row model collects driver-side
    * (bounded-dictionary class) and broadcasts back; ranking is
    * GlobalOrder's two-phase range shuffle; the report collects |langs|
    * rows and every cache is released before return. */
  def q321DsirResample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    Fingerprint.register(s)
    val B = 128
    val w = docs(s, dir).select($"doc_id", $"lang",
      expr("filter(split(text, ' '), x -> x <> '')").as("ws"),
      expr("graft_fingerprint(concat(coalesce(text, ''), CAST(doc_id AS STRING)))")
        .as("fp")).persist()
    try {
      val grams = w.select($"doc_id", $"lang", explode(expr(
        s"""transform(slice(ws, 1, greatest(size(ws) - 1, 0)),
           |  (x, i) -> pmod(graft_fingerprint(concat(x, ' ', element_at(ws, i + 2))), $B))"""
          .stripMargin)).as("bucket"))
      val counts = grams.groupBy($"bucket")
        .agg(count(lit(1)).as("n_r"),
          sum(when($"lang" === "en", 1L).otherwise(0L)).as("n_t"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val nR = counts.map(_._2).sum
      val nT = counts.map(_._3).sum
      def band(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)
      val scores = counts.toSeq.map { case (b, nr, nt) =>
        val pt = math.max((nt + 1) * 1000000L / (nT + B), 1L)
        val pr = math.max((nr + 1) * 1000000L / (nR + B), 1L)
        val r = math.min(pt * 1000000L / pr, 2147483647L)
        (b, band(r * r) - 39L)
      }.toDF("bucket", "llw_half")
      val llw = grams.join(broadcast(scores), Seq("bucket"))
        .groupBy($"doc_id").agg(sum($"llw_half").as("llw"))
      val perDoc = w.select($"doc_id", $"lang", $"fp")
        .join(llw, Seq("doc_id"), "left")
        .withColumn("llw", coalesce($"llw", lit(0L)))
        .withColumn("pri",
          expr("CAST(length(bin((fp + 1) * (fp + 1))) - 1 AS BIGINT) - llw"))
        .persist()
      try {
        val (ranked, total) = graft.operators.GlobalOrder
          .withRowNumberAndTotal(perDoc, Seq($"pri", $"doc_id"), "rn")
        val k = total / 5
        val rep = ranked.groupBy($"lang")
          .agg(count(lit(1)).as("n_raw"), sum($"llw").as("sum_llw"),
            sum(when($"rn" <= k, 1L).otherwise(0L)).as("n_sel"))
          .orderBy($"lang").collect()
        val rows = rep.map { r =>
          val (nRaw, nSel) = (r.getLong(1), r.getLong(3))
          org.apache.spark.sql.Row(r.getString(0), nRaw,
            nRaw * 1000000L / total, r.getLong(2), nSel,
            if (k == 0) 0L else nSel * 1000000L / k)
        }
        LocalReport.frame(s, rows.toSeq,
          "lang" -> StringType, "n_raw" -> LongType, "raw_ppm" -> LongType,
          "sum_llw" -> LongType, "n_sel" -> LongType, "sel_ppm" -> LongType)
      } finally perDoc.unpersist()
    } finally w.unpersist()
  }

  /** The labeled corpus q334 trains on: fastText-classifier convention —
    * positives stand in for a curated set, negatives for raw crawl junk.
    * Positive plant i mixes 12 "good"-phrase repetitions with i junk
    * noise words (score decreases in i), negatives mirror it, and one
    * MISLABELED doc per class (pure junk labeled 1, pure good labeled 0)
    * makes perfect F1 impossible so the max-F1 threshold is a real
    * operating point, not a separating hyperplane artifact. Disjoint
    * negative-id ranges (-1001.., -2001.., -3001..) per the planted
    * ground-truth convention. ONE definition shared by the Spark query,
    * the generated DuckDB oracle and the spec. */
  private[graft] val QualityPlant: Seq[(Long, Long, String)] = {
    val good = "clear concise cited structured readable"
    val junk = "spam garble zzzz clickbait adfarm"
    val gw = good.split(' ')
    val jw = junk.split(' ')
    val pos = (0 until 20).map { i =>
      (-1001L - i, 1L,
        (Seq.fill(12)(good) ++ (0 until i).map(k => jw(k % 5))).mkString(" "))
    }
    val neg = (0 until 20).map { i =>
      (-2001L - i, 0L,
        (Seq.fill(12)(junk) ++ (0 until i).map(k => gw(k % 5))).mkString(" "))
    }
    (pos ++ neg) :+
      (-3001L, 1L, Seq.fill(12)(junk).mkString(" ")) :+
      (-3002L, 0L, Seq.fill(12)(good).mkString(" "))
  }

  /** q334's feature extractor, driver-side: hashed word-bigram buckets
    * (q162's hashing trick, q321's gram definition) — the SAME buckets
    * the Spark scoring expression computes per row, replayed here for
    * the bounded plant corpus so training is a pure driver fold. */
  private[graft] def qualityGrams(text: String, buckets: Int): Seq[Int] = {
    val ws = text.split(" ").filter(_.nonEmpty)
    if (ws.length < 2) Seq.empty
    else (0 until ws.length - 1).map { i =>
      (Fingerprint.hashString(ws(i) + " " + ws(i + 1)) % buckets).toInt
    }
  }

  /** q337's planted domains, generated IN-QUERY from pure arithmetic so
    * the oracle rebuilds byte-identical text without a corpus-sized
    * literal. plantE: a 4-word cycle — every bigram transition is
    * deterministic, so the bigram-LM predictability is exactly 1e6 and
    * the loss 0 (the easiest possible domain). plantH: a uniform-fanout
    * walk over 60 disjoint words (pair p = (r, i) emits z_i then
    * z_{(i+r) mod 60}), giving every context ~2(H−1) transitions spread
    * over ~H distinct successors — predictability ≈ 1.5e6/(2(H−1)) ≈
    * 13k ppm, strictly below the ~32k of the 31-word uniform corpus
    * salad, so it is the HARDEST domain at every SF. Both on negative
    * doc ids with their own `source` values. */
  private[graft] val Q337EasySql: String =
    "concat_ws(' ', transform(sequence(0, 399), k -> " +
      "concat('ze', CAST(k % 4 AS STRING))))"
  private[graft] val Q337HardSql: String =
    "concat_ws(' ', transform(sequence(0, 7079), k -> concat('zh', " +
      "CAST(CASE WHEN k % 2 = 0 THEN (k div 2) % 60 " +
      "ELSE ((k div 2) % 60 + (k div 2) div 60 + 1) % 60 END AS STRING))))"

  /** X311 — DoReMi-class iterative domain reweighting: q82 and q324
    * allocate mixture weights STATICALLY (sqrt-damping, epoch-capped
    * waterfall); the published DoReMi recipe ITERATES — per-domain
    * excess loss drives a multiplicative-weights update, and the
    * training mixture is the average of the per-round weights. The
    * integer-exact surrogate here: the loss proxy is q107's bigram-LM
    * predictability per domain (domain = source), loss = 1e6 − pred
    * ppm, excess = loss − min-domain loss (the reference-model role),
    * and T = 10 hedge rounds of `w ← w·(1e6 + excess)` renormalized to
    * Σ = 1e6 ppm each round — the linearized multiplicative-weights
    * update, every step in int64 (w·(1e6+excess) ≤ 2·10¹², ×1e6 for
    * the normalizing division stays under 2¹⁸·10¹⁵ < Long.Max). The
    * planted [[Q337EasySql]] domain (excess exactly 0) can only shed
    * mass while the planted hardest domain gains every round — the
    * opposite-directions certificate.
    *
    * Scale: the corpus work is ONE q107-shaped pass (narrow bigram
    * zip, combinable pair fold, vocabulary-sized dict join back on the
    * same key); the MW loop runs driver-side over the collected
    * |domains|-row frame — iterating a 22-row state through Spark jobs
    * would pay 10 rounds of scheduling for nothing (q320's
    * localCheckpoint discipline is for CORPUS-sized iteration state;
    * this state is domain-sized by construction). The oracle replays
    * the fixpoint as 10 chained CTE rounds with BIGINT-only
    * accumulators. */
  def q337DoremiReweight(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    val plant = Seq((-337001L, "xx", "plantE"), (-337003L, "xx", "plantH"))
      .toDF("doc_id", "lang", "source")
      .select($"doc_id",
        when($"source" === "plantE", expr(Q337EasySql))
          .otherwise(expr(Q337HardSql)).as("text"),
        $"lang", $"source")
    val d = docs(s, dir).select($"doc_id", $"text", $"lang", $"source")
      .unionByName(plant)
    val pairs = d.select($"source", split($"text", " ").as("ws"))
      .filter(size($"ws") >= 2)
      .select($"source", explode(expr(
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1)," +
          " (a, b) -> struct(a AS w1, b AS w2))")).as("p"))
      .select($"source", $"p.w1".as("w1"), $"p.w2".as("w2"))
    val c2 = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("n12"))
    val c1 = c2.groupBy($"w1").agg(sum($"n12").as("n1"))
    val dict = c2.join(c1, "w1")
      .select($"w1", $"w2", expr("n12 * 1000000 div n1").as("ppm"))
    val base = pairs.join(dict, Seq("w1", "w2"))
      .groupBy($"source")
      .agg(count(lit(1)).as("np"), sum($"ppm").as("sppm"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)(graft.ops.TextOps.utf8Ordering)
    val totPairs = base.map(_._2).sum
    val loss = base.map { case (src, np, sppm) =>
      (src, np, sppm / np, 1000000L - sppm / np)
    }
    val minLoss = loss.map(_._4).min
    val T = 10
    var w = loss.map { case (_, np, _, _) => np * 1000000L / totPairs }
    var acc = Array.fill(loss.length)(0L)
    val w0 = w
    (1 to T).foreach { _ =>
      val upd = w.zip(loss).map { case (wi, (_, _, _, l)) =>
        wi * (1000000L + (l - minLoss))
      }
      val tot = upd.sum
      w = upd.map(u => u * 1000000L / tot)
      acc = acc.zip(w).map { case (a, wi) => a + wi }
    }
    val rows = loss.zipWithIndex.map { case ((src, np, pred, l), i) =>
      org.apache.spark.sql.Row(src, np, pred, l, l - minLoss,
        w0(i), w(i), acc(i) / T, w(i) - w0(i))
    }
    LocalReport.frame(s, rows,
      "source" -> StringType, "n_pairs" -> LongType, "pred_ppm" -> LongType,
      "loss_ppm" -> LongType, "excess_ppm" -> LongType,
      "w_init_ppm" -> LongType, "w_final_ppm" -> LongType,
      "w_avg_ppm" -> LongType, "drift_ppm" -> LongType)
  }

  /** X313 — isotonic calibration of the trained classifier (pool-
    * adjacent-violators): q334's Naive-Bayes scores rank documents, but
    * a score is not a PROBABILITY — the published calibration step fits
    * the monotone map from score to positive rate. Integer-exact both
    * ways via the PAV ≡ minimax theorem: the driver runs the O(n) PAV
    * stack over the exact (positives, count) prefix sums of the plant
    * score bins and floors ONLY the final block average to ppm, while
    * the DuckDB oracle computes fit_i = max_{a≤i} min_{b≥i}
    * floor(avg(a, b)) — equal because floor commutes with max and min,
    * so the gate itself is a cross-ALGORITHM proof, not a replay of the
    * same loop. The [[QualityPlant]] construction bakes in real pooling
    * work: the mislabeled pure-junk positive shares a bin with the
    * pure-junk negative (rate 500000 at the BOTTOM of the score axis)
    * and the mislabeled pure-good negative ties the top bin (500000 at
    * the TOP) — PAV must pool the bottom bin with the zero-rate
    * negatives (→ 1/21) and the top bin with the 1e6-rate positives
    * (→ 20/21). Per bin: calibration counts, raw vs isotonic rate,
    * Brier-style squared-error sums (raw ≤ iso ≤ prior — the spec pins
    * the ordering), and how many CORPUS documents the step function
    * maps into the bin (largest bin score ≤ doc score; scores below the
    * first bin clamp to it).
    *
    * Scale: calibration runs on the driver over the bounded labeled
    * bins; the only corpus-sized work is ONE narrow scoring scan into a
    * (score) histogram fold (q334's shape); the bin mapping is driver
    * math over the bounded histogram. */
  /** PAV over exact integer block sums; violation test by
    * cross-multiplication, never a rounded intermediate. Input: score
    * bins (score, n, positives) in ASCENDING score order; output: the
    * isotonic fit per bin in ppm (only the final block average floors).
    * Shared by q338's calibrator and q367's ensemble stack. */
  private[graft] def pavFits(bins: Seq[(Long, Long, Long)]): IndexedSeq[Long] = {
    val blocks = scala.collection.mutable.ListBuffer.empty[(Long, Long, Int)]
    bins.foreach { case (_, n, p) =>
      var (bp, bc, bk) = (p, n, 1)
      while (blocks.nonEmpty &&
        blocks.last._1 * bc > bp * blocks.last._2) {
        val (lp, lc, lk) = blocks.remove(blocks.length - 1)
        bp += lp; bc += lc; bk += lk
      }
      blocks += ((bp, bc, bk))
    }
    blocks.flatMap { case (bp, bc, bk) =>
      Seq.fill(bk)(bp * 1000000L / bc)
    }.toIndexedSeq
  }

  def q338IsotonicCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.LongType
    Fingerprint.register(s)
    val weights = q334Weights
    val plantScores = QualityPlant.map { case (_, y, t) =>
      (qualityGrams(t, 256).map(b => weights(b)).sum, y)
    }
    val bins = plantScores.groupBy(_._1).toSeq
      .map { case (sc, g) =>
        (sc, g.size.toLong, g.count(_._2 == 1L).toLong)
      }.sortBy(_._1)
    val iso = pavFits(bins)
    // corpus application: one scoring scan into a bounded histogram
    val hist = docs(s, dir).select(q334ScoreExpr(weights).as("score"))
      .groupBy($"score").agg(count(lit(1)).as("cnt"))
      .as[(Long, Long)].collect()
    val scoresAsc = bins.map(_._1)
    def binOf(sc: Long): Int = {
      val i = scoresAsc.lastIndexWhere(_ <= sc)
      if (i < 0) 0 else i
    }
    val corpusPerBin = hist.groupBy(h => binOf(h._1)).view
      .mapValues(_.map(_._2).sum).toMap
    // exact Brier numerators in ppm² (≤ 21·10¹² — comfortably int64)
    def sse(p: Long, n: Long, fit: Long): Long =
      p * (1000000L - fit) * (1000000L - fit) + (n - p) * fit * fit
    val rows = bins.zipWithIndex.map { case ((sc, n, p), i) =>
      val raw = p * 1000000L / n
      org.apache.spark.sql.Row((i + 1).toLong, sc, n, p, raw, iso(i),
        corpusPerBin.getOrElse(i, 0L), sse(p, n, raw), sse(p, n, iso(i)))
    }
    LocalReport.frame(s, rows,
      "bin_idx" -> LongType, "score_half" -> LongType, "n_cal" -> LongType,
      "n_pos" -> LongType, "raw_ppm" -> LongType, "iso_ppm" -> LongType,
      "n_corpus" -> LongType, "raw_sse_ppm2" -> LongType,
      "iso_sse_ppm2" -> LongType)
  }

  /** X308 — trained quality classifier (the CCNet/fastText-class filter):
    * q31 scores documents HEURISTICALLY, q321 selects by importance
    * toward a target, q237/q97 audit agreement — this is the lane's
    * missing piece, a classifier that LEARNS a filter from labels.
    * Integer-exact Naive Bayes over hashed word-bigram features:
    *
    *  1. Training (driver fold over the bounded [[QualityPlant]] corpus —
    *     42 labeled docs, the curated-vs-crawl convention): per-class
    *     bucket counts over `fp(bigram) % 256`, add-one-smoothed ppm
    *     class-conditionals, and the per-bucket log-likelihood ratio in
    *     HALF-BIT resolution via q321's `band(r²) − 39` idiom
    *     (band(x) = floor(log2 x) — integer-exact on both engines where
    *     libm log would hash-diverge). ALL 256 buckets get a weight
    *     (unseen buckets carry the smoothed default), so corpus grams
    *     outside the plant vocabulary score the prior ratio, not zero.
    *  2. Scoring: EVERY document's score = Σ over its bigram occurrences
    *     of the bucket weight — ONE narrow codegen'd projection (the
    *     256-entry weight table is an inlined constant-folded array
    *     literal, the gram array is let-bound via the q235
    *     element_at(transform(array(...))) idiom so projection collapse
    *     cannot re-derive it per element). NO explode, NO join, NO
    *     shuffle for scoring.
    *  3. Threshold sweep: candidate thresholds = the distinct plant
    *     scores; per threshold exact tp/fp/fn, precision/recall/F1 in
    *     ppm on the plant labels; `chosen` marks the max-F1 row
    *     (tie-break: smallest threshold). The corpus side reports how
    *     many real documents each threshold keeps and the ppm agreement
    *     with q31's distinct-word-ratio heuristic (qm ≥ 450) — the
    *     measured answer to "does the learned filter match the
    *     heuristic?".
    *
    * Scale: training is O(plants) on the driver; the corpus pass is ONE
    * scan → narrow score projection → (score, heur) histogram fold whose
    * output is bounded by the score RANGE (documents are bounded-length,
    * so half-bit scores span a few thousand values — a bounded
    * dictionary, never corpus-sized); the sweep runs on the driver over
    * |plant-scores| × |histogram| rows. A 100 TB corpus costs exactly
    * one combinable aggregation. */
  /** q334's trained per-bucket half-bit LLR weights — a pure driver fold
    * over the [[QualityPlant]] corpus, shared with q338's calibrator. */
  private[graft] def q334Weights: IndexedSeq[Long] = {
    val B = 256
    val occ = QualityPlant.flatMap { case (_, y, t) =>
      qualityGrams(t, B).map(b => (b, y))
    }
    val n1 = occ.count(_._2 == 1L).toLong
    val n0 = occ.size.toLong - n1
    val byBucket = occ.groupBy(_._1)
    def band(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)
    (0 until B).map { b =>
      val c1 = byBucket.get(b).map(_.count(_._2 == 1L).toLong).getOrElse(0L)
      val c0 = byBucket.get(b).map(_.count(_._2 == 0L).toLong).getOrElse(0L)
      val p1 = math.max((c1 + 1L) * 1000000L / (n1 + B), 1L)
      val p0 = math.max((c0 + 1L) * 1000000L / (n0 + B), 1L)
      val r = math.min(p1 * 1000000L / p0, 2147483647L)
      band(r * r) - 39L
    }
  }

  /** The max-F1 operating threshold of q334's sweep — a pure function
    * of the bounded labeled plant (no corpus scan), so the EXECUTION
    * operator (X329) derives it independently and the spec reconciles
    * it against q334's chosen row. Tie-break: smallest threshold. */
  private[graft] def q334ChosenThr(weights: IndexedSeq[Long]): Long = {
    val plantScores = QualityPlant.map { case (_, y, t) =>
      (y, qualityGrams(t, 256).map(b => weights(b)).sum)
    }
    val nPos = plantScores.count(_._1 == 1L).toLong
    val sweep = plantScores.map(_._2).distinct.sorted.map { t =>
      val tp = plantScores.count(p => p._1 == 1L && p._2 >= t).toLong
      val fp = plantScores.count(p => p._1 == 0L && p._2 >= t).toLong
      (t, 2L * tp * 1000000L / (2L * tp + fp + (nPos - tp)))
    }
    val best = sweep.map(_._2).max
    sweep.filter(_._2 == best).map(_._1).min
  }

  /** q334's narrow NB scoring projection over a `text` column (see the
    * q334 scaladoc for the let-bind rationale), shared with q338; the
    * SQL-text form lets q367 embed the same score inside its one-pass
    * flags struct. */
  private[graft] def q334ScoreSql(weights: IndexedSeq[Long]): String = {
    val wArr = weights.mkString(", ")
    s"""element_at(transform(array(filter(split(coalesce(text, ''), ' '), x -> x <> '')), ws ->
       |  aggregate(
       |    transform(slice(ws, 1, greatest(size(ws) - 1, 0)),
       |      (x, i) -> CAST(pmod(graft_fingerprint(concat(x, ' ', element_at(ws, i + 2))), 256) AS INT)),
       |    CAST(0 AS BIGINT),
       |    (acc, b) -> acc + element_at(array($wArr), b + 1))), 1)"""
      .stripMargin
  }

  private[graft] def q334ScoreExpr(weights: IndexedSeq[Long]): Column =
    expr(q334ScoreSql(weights))

  /** q334's distinct-word-ratio heuristic flag (q31's quality signal as
    * a binary), shared with q358's AUC audit. */
  private[graft] def q334HeurExpr: Column = expr(
    """CASE WHEN text IS NOT NULL
      |  AND CAST(size(array_distinct(split(text, ' '))) AS BIGINT) * 1000
      |    div size(split(text, ' ')) >= 450
      |  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END""".stripMargin)

  def q334QualityClassifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.LongType
    Fingerprint.register(s)
    val B = 256
    val weights = q334Weights
    // --- scoring: one narrow projection over the corpus ---
    val scored = docs(s, dir).select(
      q334ScoreExpr(weights).as("score"),
      q334HeurExpr.as("heur"))
    val hist = scored.groupBy($"score", $"heur")
      .agg(count(lit(1)).as("cnt"))
      .as[(Long, Long, Long)].collect()
    val nCorpus = hist.map(_._3).sum
    // --- sweep: driver math over plant scores + the corpus histogram ---
    val plantScores = QualityPlant.map { case (_, y, t) =>
      (y, qualityGrams(t, B).map(b => weights(b)).sum)
    }
    val nPosPlants = plantScores.count(_._1 == 1L).toLong
    val thrs = plantScores.map(_._2).distinct.sorted
    val sweep = thrs.map { t =>
      val tp = plantScores.count(p => p._1 == 1L && p._2 >= t).toLong
      val fp = plantScores.count(p => p._1 == 0L && p._2 >= t).toLong
      val fn = nPosPlants - tp
      val f1 = 2L * tp * 1000000L / (2L * tp + fp + fn)
      val nPred = hist.filter(_._1 >= t).map(_._3).sum
      val agree = hist.filter(h => (if (h._1 >= t) 1L else 0L) == h._2)
        .map(_._3).sum
      (t, tp, fp, fn, tp * 1000000L / (tp + fp), tp * 1000000L / nPosPlants,
        f1, nPred, agree * 1000000L / nCorpus)
    }
    val bestF1 = sweep.map(_._7).max
    val chosenT = sweep.filter(_._7 == bestF1).map(_._1).min
    LocalReport.frame(s,
      sweep.map { r =>
        org.apache.spark.sql.Row(r._1, r._2, r._3, r._4, r._5, r._6, r._7,
          if (r._1 == chosenT) 1L else 0L, r._8, r._9)
      },
      "thr_half" -> LongType, "tp" -> LongType, "fp" -> LongType,
      "fn" -> LongType, "prec_ppm" -> LongType, "rec_ppm" -> LongType,
      "f1_ppm" -> LongType, "chosen" -> LongType,
      "n_corpus_pred_pos" -> LongType, "heur_agree_ppm" -> LongType)
  }

  /** X329 — trained-classifier filtering EXECUTION (the apply step of
    * the learned-filter lane, closing train (q334) → calibrate (q338)
    * → APPLY): production corpora are cut at the classifier's chosen
    * operating point, and the artifact that matters downstream is the
    * per-(lang, source) composition shift the cut causes — the exact
    * number mixture planning (q82/q324/q337) must re-balance against.
    * The threshold is [[q334ChosenThr]] — a pure function of the
    * bounded labeled plant, derived independently here and reconciled
    * against q334's chosen row in the spec (cross-operator agreement,
    * not code reuse of the sweep).
    *
    * TWO cuts ship side by side, because the plant-tuned absolute
    * threshold HONESTLY transfers badly (trained on the 42-doc plant
    * convention, its operating point keeps 0 docs of this
    * out-of-domain corpus — the measured transfer failure the report
    * exists to surface BEFORE the cut ships): the `thr_half` columns
    * apply [[q334ChosenThr]] as-is, and the `thr_med` columns apply
    * the production fallback every corpus pipeline actually runs — a
    * CORPUS-RELATIVE cut at the exact median score (keep the top
    * ⌈n/2⌉ ranks; ties at the boundary keep everything at the
    * boundary value, so both engines agree without an order tie-break).
    * thr_med = the ⌈n/2⌉-th largest score, derived on the driver from
    * the exact (score → count) histogram — the k-th order statistic
    * of a multiset needs no row order, so no GlobalOrder pass.
    *
    * Per (lang, source): docs and kept docs under both cuts, chars
    * and kept chars, keep ppm, and the composition shift — corpus
    * share before vs after in ppm (totals from the collected
    * |lang×source| frame, driver math).
    *
    * Scale: ONE narrow scoring projection (the codegen'd q334
    * expression — no explode, no shuffle), persisted once around its
    * two combinable folds (histogram + per-group) and released; the
    * score histogram is bounded by the score VALUE RANGE
    * (|bigrams/doc| × the half-bit weight span, ≈10⁴ values), never
    * corpus-sized, and the report frame is |lang×source|. */
  def q353FilterApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    Fingerprint.register(s)
    val weights = q334Weights
    val thr = q334ChosenThr(weights)
    val scored = docs(s, dir)
      .select($"lang", $"source", $"n_chars",
        q334ScoreExpr(weights).as("score"))
      .persist()
    // Exact median threshold from the value-bounded score histogram:
    // the ⌈n/2⌉-th largest score (k-th order statistic of a multiset —
    // tie order is irrelevant, the boundary VALUE is what both engines
    // compare against).
    val hist = scored.groupBy($"score").agg(count(lit(1)).as("cnt"))
      .as[(Long, Long)].collect().sortBy(-_._1)
    val n = hist.map(_._2).sum
    val k = (n + 1L) / 2L
    val thrMed = hist.scanLeft((0L, 0L)) { case ((_, cum), (sc, c)) =>
      (sc, cum + c)
    }.drop(1).find(_._2 >= k).map(_._1).get
    val per = scored
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(($"score" >= thr).cast("long")).as("n_keep"),
        sum(($"score" >= thrMed).cast("long")).as("n_keep_med"),
        sum($"n_chars").as("chars_total"),
        sum($"n_chars" * ($"score" >= thr).cast("long")).as("chars_kept"),
        sum($"n_chars" * ($"score" >= thrMed).cast("long"))
          .as("chars_kept_med"))
      .collect()
    scored.unpersist()
    val nAll = per.map(_.getAs[Long]("n_docs")).sum
    val nKeepAll = per.map(_.getAs[Long]("n_keep")).sum
    val nKeepMedAll = per.map(_.getAs[Long]("n_keep_med")).sum
    val rows = per.map { r =>
      val nd = r.getAs[Long]("n_docs")
      val nk = r.getAs[Long]("n_keep")
      val nkm = r.getAs[Long]("n_keep_med")
      org.apache.spark.sql.Row(r.getAs[String]("lang"),
        r.getAs[String]("source"), thr, thrMed, nd,
        nk, nk * 1000000L / nd,
        nkm, nkm * 1000000L / nd,
        r.getAs[Long]("chars_total"), r.getAs[Long]("chars_kept"),
        r.getAs[Long]("chars_kept_med"),
        nd * 1000000L / nAll,
        if (nKeepAll == 0L) 0L else nk * 1000000L / nKeepAll,
        if (nKeepMedAll == 0L) 0L else nkm * 1000000L / nKeepMedAll)
    }.sortBy(r => (r.getString(0), r.getString(1)))(
      Ordering.Tuple2(TextOps.utf8Ordering, TextOps.utf8Ordering))
    LocalReport.frame(s, rows.toSeq,
      "lang" -> StringType, "source" -> StringType, "thr_half" -> LongType,
      "thr_med" -> LongType, "n_docs" -> LongType,
      "n_keep" -> LongType, "keep_ppm" -> LongType,
      "n_keep_med" -> LongType, "keep_med_ppm" -> LongType,
      "chars_total" -> LongType, "chars_kept" -> LongType,
      "chars_kept_med" -> LongType,
      "share_before_ppm" -> LongType, "share_after_ppm" -> LongType,
      "share_after_med_ppm" -> LongType)
  }

  /** X334 — exact AUC / Mann-Whitney ranking audit for the classifier
    * lane: q334 reports the F1 sweep at discrete thresholds; AUC is the
    * threshold-FREE ranking quality number every classifier report
    * leads with, and it is exactly computable from the value-bounded
    * score histogram — no per-pair work, no approximation: with
    * per-score (pos, neg) counts in score order,
    * 2U = Σ_v pos_v·(2·neg_below(v) + neg_v) handles ties by the
    * midrank convention, and AUC = U/(n₁n₀). All driver math is BigInt
    * (2·n₁·n₀ passes int64 at n ≈ 4·10⁹ — the operator's home scale)
    * and the oracle mirrors in HUGEINT; only bounded ppm columns ship.
    *
    * Two scopes: `plant` — the NB score against the QualityPlant's own
    * labels (high AUC: training-set separation, imperfect only through
    * the two mislabeled extremes) — and `corpus` — the NB score
    * against q31's distinct-word-ratio heuristic, the honest
    * out-of-domain reading (≈ chance, the same finding q334's
    * agreement column measures, now in the standard metric).
    *
    * Scale: ONE narrow scoring projection into ONE combinable
    * (score, label) histogram fold per scope; the histogram is bounded
    * by the score VALUE range (the q353 argument), so AUC at 100 TB
    * costs one scan + a driver fold over ≈10⁴ histogram rows. */
  def q358ExactAuc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    Fingerprint.register(s)
    val weights = q334Weights
    val corpusHist = docs(s, dir)
      .select(q334ScoreExpr(weights).as("score"), q334HeurExpr.as("y"))
      .groupBy($"score", $"y").agg(count(lit(1)).as("cnt"))
      .as[(Long, Long, Long)].collect()
    val plantHist = QualityPlant
      .map { case (_, y, t) => (qualityGrams(t, 256).map(weights).sum, y) }
      .groupBy(identity).map { case ((sc, y), g) => (sc, y, g.size.toLong) }
      .toSeq
    def report(scope: String, h: Seq[(Long, Long, Long)])
        : org.apache.spark.sql.Row = {
      val byScore = h.groupBy(_._1).toSeq.sortBy(_._1).map { case (sc, g) =>
        (sc, g.filter(_._2 == 1L).map(_._3).sum,
          g.filter(_._2 == 0L).map(_._3).sum)
      }
      var negBelow = BigInt(0)
      var u2 = BigInt(0)
      var n1 = 0L
      var n0 = 0L
      byScore.foreach { case (_, p, n) =>
        u2 += BigInt(p) * (2 * negBelow + n)
        negBelow += n; n1 += p; n0 += n
      }
      val (auc, gini) =
        if (n1 == 0L || n0 == 0L) (0L, 0L)
        else ((u2 * 1000000 / (2 * BigInt(n1) * n0)).toLong,
          (u2 * 1000000 / (BigInt(n1) * n0) - 1000000).toLong)
      org.apache.spark.sql.Row(scope, n1, n0, byScore.length.toLong,
        auc, gini)
    }
    LocalReport.frame(s,
      Seq(report("corpus", corpusHist.toSeq), report("plant", plantHist)),
      "scope" -> StringType, "n_pos" -> LongType, "n_neg" -> LongType,
      "n_scores" -> LongType, "auc_ppm" -> LongType, "gini_ppm" -> LongType)
  }

  /** q367's heuristic quality SCORE — q31's distinct-word ratio in ‰
    * (the binary [[q334HeurExpr]] is this score thresholded at 450). */
  private[graft] def q367HeurScore(t: String): Long = {
    val ws = t.split(" ", -1)
    ws.distinct.length.toLong * 1000L / ws.length
  }

  /** q367's plant-trained bigram-LM dictionary (q107's transition-ppm
    * convention over the bounded [[QualityPlant]] corpus — the
    * reference-model role, deployable without a corpus pass). */
  private[graft] def q367LmDict: Map[(String, String), Long] = {
    val pairs = QualityPlant.flatMap { case (_, _, t) =>
      val ws = t.split(" ").filter(_.nonEmpty)
      (0 until ws.length - 1).map(i => (ws(i), ws(i + 1)))
    }
    val c2 = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    c2.map { case (k, n12) => k -> n12 * 1000000L / c1(k._1) }
  }

  /** q367's LM predictability score for one text under [[q367LmDict]]:
    * mean transition ppm, unseen transitions scoring 0. */
  private[graft] def q367LmScore(t: String,
      dict: Map[(String, String), Long]): Long = {
    val ws = t.split(" ").filter(_.nonEmpty)
    if (ws.length < 2) 0L
    else {
      val ps = (0 until ws.length - 1)
        .map(i => dict.getOrElse((ws(i), ws(i + 1)), 0L))
      ps.sum / ps.length
    }
  }

  /** Exact max-F1 sweep over a (score, label) set: returns (thr, tp, fp,
    * fn, f1_ppm) at the best threshold, ties to the smallest (q334's
    * convention). */
  private[graft] def q367Sweep(sl: Seq[(Long, Long)])
      : (Long, Long, Long, Long, Long) = {
    val nPos = sl.count(_._2 == 1L).toLong
    val evals = sl.map(_._1).distinct.sorted.map { t =>
      val tp = sl.count(p => p._2 == 1L && p._1 >= t).toLong
      val fp = sl.count(p => p._2 == 0L && p._1 >= t).toLong
      val fn = nPos - tp
      (t, tp, fp, fn, 2L * tp * 1000000L / (2L * tp + fp + fn))
    }
    val best = evals.map(_._5).max
    evals.filter(_._5 == best).minBy(_._1)
  }

  /** q358's exact midrank AUC over a (score, label) set, in ppm. */
  private[graft] def q367Auc(sl: Seq[(Long, Long)]): Long = {
    val byScore = sl.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, g) =>
      (g.count(_._2 == 1L).toLong, g.count(_._2 == 0L).toLong)
    }
    var negb = BigInt(0); var u2 = BigInt(0); var n1 = 0L; var n0 = 0L
    byScore.foreach { case (p, n) =>
      u2 += BigInt(p) * (2 * negb + n); negb += n; n1 += p; n0 += n
    }
    if (n1 == 0L || n0 == 0L) 0L
    else (u2 * 1000000 / (2 * BigInt(n1) * n0)).toLong
  }

  /** [[q367Sweep]] over a pre-binned (score, n, n_positive) histogram —
    * the corpus-scale form (the per-doc list never reaches the driver;
    * only the bounded bin table does). Same contract: max F1, ties to
    * the lowest threshold. */
  private[graft] def histSweep(bins: Seq[(Long, Long, Long)])
      : (Long, Long, Long, Long, Long) = {
    val sorted = bins.sortBy(_._1)
    val nPos = sorted.map(_._3).sum
    val evals = sorted.map(_._1).map { t =>
      val keep = sorted.filter(_._1 >= t)
      val tp = keep.map(_._3).sum
      val fp = keep.map { case (_, n, p) => n - p }.sum
      val fn = nPos - tp
      (t, tp, fp, fn, 2L * tp * 1000000L / (2L * tp + fp + fn))
    }
    val best = evals.map(_._5).max
    evals.filter(_._5 == best).minBy(_._1)
  }

  /** [[q367Auc]] over a pre-binned (score, n, n_positive) histogram. */
  private[graft] def histAuc(bins: Seq[(Long, Long, Long)]): Long = {
    var negb = BigInt(0); var u2 = BigInt(0); var n1 = 0L; var n0 = 0L
    bins.sortBy(_._1).foreach { case (_, n, p) =>
      val ng = n - p
      u2 += BigInt(p) * (2 * negb + ng); negb += ng; n1 += p; n0 += ng
    }
    if (n1 == 0L || n0 == 0L) 0L
    else (u2 * 1000000 / (2 * BigInt(n1) * n0)).toLong
  }

  /** The three corpus signal SQL expressions — q31's distinct-word
    * heuristic (×1000), q334's NB score, the plant-trained bigram-LM
    * mean ppm — ONE definition shared by q367's flag scan and q373's
    * in-domain calibration (the sprtWalk rule: consumers can never
    * drift on the signal semantics). */
  private[graft] def q367CorpusSignalSqls: (String, String, String) = {
    val heurSql =
      """CAST(size(array_distinct(split(coalesce(text, ''), ' '))) AS BIGINT)
        | * 1000 div size(split(coalesce(text, ''), ' '))""".stripMargin
    val lmEntries = q367LmDict.toSeq
      .sortBy { case ((a, b), _) => (a, b) }
      .map { case ((a, b), v) => s"'${a} ${b}', ${v}L" }.mkString(", ")
    val lmSql =
      s"""element_at(transform(array(filter(split(coalesce(text, ''), ' '), x -> x <> '')), ws ->
         |  CASE WHEN size(ws) < 2 THEN CAST(0 AS BIGINT) ELSE
         |    aggregate(transform(slice(ws, 1, size(ws) - 1), (x, i) ->
         |        coalesce(element_at(map($lmEntries),
         |          concat(x, ' ', element_at(ws, i + 2))), CAST(0 AS BIGINT))),
         |      CAST(0 AS BIGINT), (a, b) -> a + b)
         |    div CAST(size(ws) - 1 AS BIGINT) END), 1)""".stripMargin
    (heurSql, q334ScoreSql(q334Weights), lmSql)
  }

  /** X345 — stacked ensemble quality filter + ablation (the
    * DataComp-style measurement): the lane owns three INDEPENDENT
    * quality signals — q31's distinct-word-ratio heuristic, q334's
    * trained Naive Bayes, and a q107-style bigram-LM predictability
    * under a plant-trained reference dictionary — but no combined
    * scorer and no report saying which signal earns its keep. Each
    * signal PAV-calibrates to a positive-rate in ppm on the labeled
    * plant ([[pavFits]] — q338's machinery generalized to any score),
    * and the ensemble score is the SUM of the three calibrated rates
    * (integer fusion of probabilities; no libm). The ablation reports,
    * per signal and for the ensemble: exact AUC (q358's midrank fold),
    * the max-F1 operating point with tp/fp/fn, and how many corpus
    * documents that operating point keeps.
    *
    * Measured, not assumed: on this plant the NB signal dominates
    * (F1 952380, AUC 920634), both weak signals sit at chance AUC
    * (500000 — the plant's two classes are equally repetitive, so the
    * distinct-word ratio cannot separate them; stated, not hidden), the
    * ensemble's max-F1 TIES the best single signal (952380 — the two
    * mislabeled extremes bound every scorer) and its AUC strictly
    * improves to 958049: calibrated fusion fixes rankings that
    * thresholding cannot, which is exactly why ablations report both.
    * The corpus keep counts show q353's plant-threshold transfer
    * behavior unchanged (the NB/LM/ensemble operating points keep zero
    * real documents — the plant is out-of-domain, stated not hidden;
    * q353 ships the corpus-median fallback for exactly this reason).
    *
    * Scale: all training/calibration/sweeps are driver math over the
    * bounded plant; the corpus pass is ONE narrow scan computing all
    * four keep flags inside a single let-bound struct lambda (the three
    * signal scores bind once as lambda fields — the q235 rule — and the
    * calibration step functions are constant-folded array literals)
    * into a 1-row aggregate. A 100 TB corpus costs one scan. */
  def q367EnsembleFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    Fingerprint.register(s)
    val weights = q334Weights
    val lmDict = q367LmDict
    val sigs: Seq[(String, Seq[(Long, Long)])] = Seq(
      "1_heur" -> QualityPlant.map { case (_, y, t) => (q367HeurScore(t), y) },
      "2_nb" -> QualityPlant.map { case (_, y, t) =>
        (qualityGrams(t, 256).map(weights).sum, y)
      },
      "3_lm" -> QualityPlant.map { case (_, y, t) =>
        (q367LmScore(t, lmDict), y)
      })
    val cals = sigs.map { case (tag, sl) =>
      val bins = sl.groupBy(_._1).toSeq
        .map { case (sc, g) => (sc, g.size.toLong, g.count(_._2 == 1L).toLong) }
        .sortBy(_._1)
      (tag, bins.map(_._1).toIndexedSeq, pavFits(bins))
    }
    def rateOf(calIdx: Int, sc: Long): Long = {
      val (_, scores, fits) = cals(calIdx)
      val i = scores.lastIndexWhere(_ <= sc)
      fits(math.max(i, 0))
    }
    val ensSl = QualityPlant.indices.map { i =>
      (sigs.indices.map(k => rateOf(k, sigs(k)._2(i)._1)).sum,
        QualityPlant(i)._2)
    }
    val all: Seq[(String, Seq[(Long, Long)])] =
      sigs :+ ("4_ensemble" -> ensSl)
    val points = all.map { case (tag, sl) => (tag, q367Sweep(sl), q367Auc(sl)) }
    // --- corpus application: ONE narrow scan, four keep flags ---
    val (heurSql, nbSql, lmSql) = q367CorpusSignalSqls
    def rateSql(calIdx: Int, ref: String): String = {
      val (_, scores, fits) = cals(calIdx)
      s"element_at(array(${fits.map(_ + "L").mkString(", ")}), " +
        s"greatest(size(filter(array(${scores.map(_ + "L").mkString(", ")}), " +
        s"b -> b <= $ref)), 1))"
    }
    val thr = points.map(_._2._1)
    val flagsSql =
      s"""element_at(transform(array(named_struct(
         |  'h', $heurSql, 'n', $nbSql, 'l', $lmSql)), t ->
         |  named_struct(
         |    'kh', CASE WHEN t.h >= ${thr(0)}L THEN 1L ELSE 0L END,
         |    'kn', CASE WHEN t.n >= ${thr(1)}L THEN 1L ELSE 0L END,
         |    'kl', CASE WHEN t.l >= ${thr(2)}L THEN 1L ELSE 0L END,
         |    'ke', CASE WHEN ${rateSql(0, "t.h")} + ${rateSql(1, "t.n")}
         |        + ${rateSql(2, "t.l")} >= ${thr(3)}L
         |      THEN 1L ELSE 0L END)), 1)""".stripMargin
    val keeps = docs(s, dir).select(expr(flagsSql).as("f"))
      .agg(sum($"f.kh").as("kh"), sum($"f.kn").as("kn"),
        sum($"f.kl").as("kl"), sum($"f.ke").as("ke"))
      .head()
    val rows = points.zipWithIndex.map {
      case ((tag, (t, tp, fp, fn, f1), auc), i) =>
        org.apache.spark.sql.Row(tag, auc, t, tp, fp, fn, f1, keeps.getLong(i))
    }
    LocalReport.frame(s, rows,
      "signal" -> StringType, "auc_ppm" -> LongType, "best_thr" -> LongType,
      "tp" -> LongType, "fp" -> LongType, "fn" -> LongType,
      "f1_ppm" -> LongType, "n_corpus_keep" -> LongType)
  }

  /** X352 — IN-DOMAIN filter operating point (closing the lane's
    * three-round-old honest negative): q353 and q367 both report that
    * PLANT-calibrated operating points keep zero real documents — the
    * plant is out-of-domain, so its thresholds land above every corpus
    * score. This operator closes the gap instead of restating it, the
    * way production closes it when no labels exist: PSEUDO-LABELS from
    * the signals' own agreement. Each of the three q367 signals (ONE
    * shared definition, [[q367CorpusSignalSqls]]) ranks the corpus into
    * exact GlobalOrder deciles; a document is pseudo-POSITIVE when all
    * three signals place it in the upper half (deciles ≥ 5),
    * pseudo-NEGATIVE when all three place it in the lower half, and
    * AMBIGUOUS (excluded from evaluation, still scored) otherwise.
    * Each SIGNAL, however, is calibrated and evaluated LEAVE-ONE-OUT —
    * against the agreement of the OTHER TWO signals only (the
    * co-training construction) — so a signal's AUC/F1 measure real
    * cross-signal prediction, never a label the signal helped define.
    * The ensemble row evaluates against the three-way band, which its
    * monotone calibrated sum separates BY CONSTRUCTION (AUC/F1 =
    * 1000000 there is a consistency check, not a finding — stated; the
    * ensemble's informative outputs are the corpus keep and the
    * matrices).
    *
    * Calibration runs q367's machinery IN DOMAIN: PAV ([[pavFits]])
    * per signal over its 10 decile bins against its leave-one-out
    * labels, ensemble = sum of the three calibrated rates (≤ 1000
    * distinct values BY CONSTRUCTION — three 10-step functions — so
    * the sweep/AUC histograms are driver-bounded at any corpus size),
    * max-F1 operating points per signal and ensemble, and ONE final
    * corpus pass reporting each cut's keep count plus the 2×2
    * agreement matrix of every signal's cut against the ensemble's.
    *
    * Measured at sf0.01 (500 docs): the three-way band is 72 positives
    * / 52 negatives / 376 ambiguous; the ensemble cut keeps 178 corpus
    * documents (35.6% — the NONZERO, defensible in-domain keep the
    * plant-calibrated q353/q367 cuts could not produce). The
    * leave-one-out AUCs are the honest part: the heuristic decile
    * scores 389274 — BELOW chance against the other two signals'
    * consensus (its ranking anti-correlates with NB∧LM agreement on
    * this corpus) — NB 526560, LM 605260, and the two weak signals'
    * max-F1 operating points degenerate to threshold 0 (keep-all),
    * which the report shows rather than hides. The pseudo-label
    * construction, deciles, PAV, sweeps and matrices all replay in the
    * DuckDB oracle.
    *
    * Scale: the signal scan is ONE narrow projection (each signal
    * evaluated once per row); deciles are three GlobalOrder passes over
    * the persisted narrow score frame (range shuffles — never an
    * unpartitioned window); calibration bins (30 rows), ensemble bins
    * (≤1000 rows) and the final 19-sum aggregate are the only
    * collects. */
  def q373IndomainCut(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    Fingerprint.register(s)
    val (hSql, nSql, lSql) = q367CorpusSignalSqls
    val sig = docs(s, dir).select($"doc_id",
      expr(hSql).as("h"), expr(nSql).as("n"), expr(lSql).as("l"))
      .persist()
    try {
      def dec(c: String): DataFrame = {
        val (numbered, total) = graft.operators.GlobalOrder
          .withRowNumberAndTotal(sig.select($"doc_id", col(c)),
            Seq(col(c), $"doc_id"), "rn")
        numbered.select($"doc_id",
          expr(s"(rn - 1) * 10 div ${total}L").as(s"d_$c"))
      }
      val dd = dec("h").join(dec("n"), Seq("doc_id"))
        .join(dec("l"), Seq("doc_id"))
        .persist() // bin fold + ensemble-bin fold + the final matrix agg
      try {
        val isPos = $"d_h" >= 5 && $"d_n" >= 5 && $"d_l" >= 5
        val isNeg = $"d_h" < 5 && $"d_n" < 5 && $"d_l" < 5
        // leave-one-out pseudo-labels: signal g is calibrated and
        // evaluated against the OTHER TWO signals' agreement, so its
        // AUC/F1 measure real cross-signal prediction, never a label it
        // helped define
        def loo(a: String, b: String) =
          when(col(a) >= 5 && col(b) >= 5, 1L)
            .when(col(a) < 5 && col(b) < 5, 0L)
        val lab3 = dd
          .withColumn("y_h", loo("d_n", "d_l"))
          .withColumn("y_n", loo("d_h", "d_l"))
          .withColumn("y_l", loo("d_h", "d_n"))
        val lab = dd.withColumn("y", when(isPos, 1L).when(isNeg, 0L))
          .filter($"y".isNotNull)
        val binRows = lab3
          .select(expr(
            "stack(3, 'h', d_h, y_h, 'n', d_n, y_n, 'l', d_l, y_l)" +
              " AS (sig, dec, y)"))
          .filter($"y".isNotNull)
          .groupBy($"sig", $"dec")
          .agg(count(lit(1)).as("n"), sum($"y").as("np"))
          .collect()
        val sigTags = Seq("h", "n", "l")
        val bins: Map[String, Seq[(Long, Long, Long)]] = sigTags.map { g =>
          g -> binRows.filter(_.getString(0) == g)
            .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
            .sortBy(_._1).toSeq
        }.toMap
        // PAV per signal over its decile bins; rate10(g)(d) = calibrated
        // pseudo-positive rate of decile d (q367's step lookup)
        val rate10: Map[String, IndexedSeq[Long]] = sigTags.map { g =>
          val b = bins(g)
          val fits = pavFits(b)
          val decs = b.map(_._1)
          g -> (0L to 9L).map { d =>
            fits(math.max(decs.lastIndexWhere(_ <= d), 0))
          }
        }.toMap
        def rateArr(g: String): String =
          s"array(${rate10(g).map(_ + "L").mkString(", ")})"
        val ensSql = s"""element_at(${rateArr("h")}, CAST(d_h + 1 AS INT))
          | + element_at(${rateArr("n")}, CAST(d_n + 1 AS INT))
          | + element_at(${rateArr("l")}, CAST(d_l + 1 AS INT))""".stripMargin
        val ensBins = lab.select(expr(ensSql).as("e"), $"y")
          .groupBy($"e").agg(count(lit(1)).as("n"), sum($"y").as("np"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        val points: Seq[(String, (Long, Long, Long, Long, Long), Long)] =
          sigTags.map(g => (g, histSweep(bins(g)), histAuc(bins(g)))) :+
            (("e", histSweep(ensBins), histAuc(ensBins)))
        val thr = points.map(p => p._1 -> p._2._1).toMap
        // ONE final corpus pass: keeps at every operating point, the
        // per-signal agreement matrix vs the ensemble cut, label counts
        val keCol = col("e") >= lit(thr("e"))
        val cells: Seq[Column] = sigTags.flatMap { g =>
          val kg = col(s"d_$g") >= lit(thr(g))
          Seq(
            sum(when(keCol && kg, 1L).otherwise(0L)).as(s"a11_$g"),
            sum(when(keCol && !kg, 1L).otherwise(0L)).as(s"a10_$g"),
            sum(when(!keCol && kg, 1L).otherwise(0L)).as(s"a01_$g"),
            sum(when(!keCol && !kg, 1L).otherwise(0L)).as(s"a00_$g"))
        }
        val aggCols: Seq[Column] = Seq(
          count(lit(1)).as("nc"),
          sum(when(col("d_h") >= lit(thr("h")), 1L).otherwise(0L)).as("kh"),
          sum(when(col("d_n") >= lit(thr("n")), 1L).otherwise(0L)).as("kn"),
          sum(when(col("d_l") >= lit(thr("l")), 1L).otherwise(0L)).as("kl"),
          sum(when(keCol, 1L).otherwise(0L)).as("ke"),
          sum(when(isPos, 1L).otherwise(0L)).as("npos"),
          sum(when(isNeg, 1L).otherwise(0L)).as("nneg")) ++ cells
        val m = dd.withColumn("e", expr(ensSql))
          .agg(aggCols.head, aggCols.tail: _*).head()
        def g(name: String): Long = m.getLong(m.fieldIndex(name))
        val nPos = g("npos"); val nNeg = g("nneg")
        val nAmb = g("nc") - nPos - nNeg
        val tags = Map("h" -> "1_heur", "n" -> "2_nb", "l" -> "3_lm",
          "e" -> "4_ensemble")
        val rows = points.map { case (k, (t, tp, fp, fn, f1), auc) =>
          val (keep, a11, a10, a01, a00) =
            if (k == "e") (g("ke"), g("ke"), 0L, 0L, g("nc") - g("ke"))
            else (g(s"k$k"), g(s"a11_$k"), g(s"a10_$k"), g(s"a01_$k"),
              g(s"a00_$k"))
          org.apache.spark.sql.Row(tags(k), auc, t, tp, fp, fn, f1,
            keep, a11, a10, a01, a00, nPos, nNeg, nAmb)
        }
        LocalReport.frame(s, rows,
          "signal" -> StringType, "auc_ppm" -> LongType,
          "best_thr" -> LongType, "tp" -> LongType, "fp" -> LongType,
          "fn" -> LongType, "f1_ppm" -> LongType,
          "n_corpus_keep" -> LongType, "agree_keep" -> LongType,
          "mixed_keep" -> LongType, "mixed_drop" -> LongType,
          "agree_drop" -> LongType, "n_pseudo_pos" -> LongType,
          "n_pseudo_neg" -> LongType, "n_ambiguous" -> LongType)
      } finally dd.unpersist(blocking = false)
    } finally sig.unpersist(blocking = false)
  }

  /** X359 — black-box label-shift estimation (BBSE, Lipton et al.
    * 2018): when the LABEL distribution moves but p(x|y) does not, the
    * target class prior is recoverable from a frozen classifier alone —
    * π̂ = (μ − fpr) / (tpr − fpr), with (tpr, fpr) measured once on
    * labeled source data and μ = the classifier's predicted-positive
    * rate on the unlabeled target — the production answer to "what
    * fraction of the new crawl is junk?" without labeling the new
    * crawl. Classifier = q334's NB at the plant max-F1 threshold (the
    * SHARED [[q367Sweep]] — one sweep definition); confusion rates are
    * driver math over the bounded labeled plant.
    *
    * Scopes: `1_plant_self` (the identity check — μ over the source
    * itself must estimate the source prior back, exact up to ppm
    * flooring), `2_shift_pos` / `3_shift_neg` (synthetic label-shifted
    * targets: the SAME plant docs re-weighted 3:1 and 1:3 — p(x|y)
    * unchanged BY CONSTRUCTION, so BBSE's assumption holds exactly and
    * the estimator must recover the known shifted priors; the planted
    * certificate), and `4_corpus` (the real corpus, where the
    * assumption does NOT hold — domain shift, not label shift — and
    * the estimate lands outside [0, 1] and is CLAMPED with its flag
    * set: the measured demonstration of the method's stated limit, the
    * q353 transfer lesson in BBSE form).
    *
    * All arithmetic integer ppm; the signed estimator division floors
    * (Math.floorDiv ≡ DuckDB //); the degenerate tpr = fpr case is a
    * loud require (a chance-level classifier cannot drive BBSE — q367
    * measured the heuristic at exactly chance on this plant, which is
    * why the NB signal is the black box here).
    *
    * Scale: the target pass is ONE narrow predicted-positive count —
    * BBSE's whole point is that re-estimating priors costs one scan
    * and no labels; everything else is bounded driver math. */
  def q379LabelShift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    Fingerprint.register(s)
    val weights = q334Weights
    val plantNb = QualityPlant.map { case (_, y, t) =>
      (qualityGrams(t, 256).map(weights).sum, y)
    }
    val thr = q367Sweep(plantNb)._1
    val preds = plantNb.map { case (sc, y) => (y, if (sc >= thr) 1L else 0L) }
    val pPos = preds.count(_._1 == 1L).toLong
    val pNeg = preds.count(_._1 == 0L).toLong
    val k1 = preds.count(p => p._1 == 1L && p._2 == 1L).toLong
    val k0 = preds.count(p => p._1 == 0L && p._2 == 1L).toLong
    val tpr = k1 * 1000000L / pPos
    val fpr = k0 * 1000000L / pNeg
    require(tpr != fpr, "q379: chance-level classifier — BBSE undefined")
    val nbSql = q367CorpusSignalSqls._2
    val corpusRow = docs(s, dir)
      .agg(count(lit(1)).as("n"),
        sum(when(expr(nbSql) >= thr, 1L).otherwise(0L)).as("k"))
      .head()
    val (nCorpus, kCorpus) = (corpusRow.getLong(0), corpusRow.getLong(1))
    def estOf(mu: Long): (Long, Long) = {
      val raw = Math.floorDiv((mu - fpr) * 1000000L, tpr - fpr)
      val clamped = math.max(0L, math.min(1000000L, raw))
      (clamped, if (raw == clamped) 0L else 1L)
    }
    def shiftRow(tag: String, wPos: Long, wNeg: Long)
        : org.apache.spark.sql.Row = {
      val nW = wPos * pPos + wNeg * pNeg
      val mu = (wPos * k1 + wNeg * k0) * 1000000L / nW
      val truth = wPos * pPos * 1000000L / nW
      val (est, cl) = estOf(mu)
      org.apache.spark.sql.Row(tag, nW, mu, tpr, fpr, est, cl,
        truth, math.abs(est - truth), 1L)
    }
    val muC = kCorpus * 1000000L / nCorpus
    val (estC, clC) = estOf(muC)
    val rows = Seq(
      shiftRow("1_plant_self", 1L, 1L),
      shiftRow("2_shift_pos", 3L, 1L),
      shiftRow("3_shift_neg", 1L, 3L),
      org.apache.spark.sql.Row("4_corpus", nCorpus, muC, tpr, fpr,
        estC, clC, 0L, 0L, 0L))
    LocalReport.frame(s, rows,
      "scope" -> StringType, "n_docs" -> LongType, "mu_ppm" -> LongType,
      "tpr_ppm" -> LongType, "fpr_ppm" -> LongType,
      "est_prior_ppm" -> LongType, "clamped" -> LongType,
      "true_prior_ppm" -> LongType, "err_ppm" -> LongType,
      "has_truth" -> LongType)
  }

  /** q381's labeling budget and plant strata (two synthetic strata with
    * controlled dispersion: a constant stratum — σ = 0, Neyman's
    * degenerate case, floored to the 1-unit minimum — and a bimodal
    * high-σ stratum that must absorb most of the budget). */
  private[graft] val NeymanBudget = 100L
  private[graft] val NeymanPlant: Seq[(String, Long, Long)] = {
    val lo = (0 until 50).map(i => ("plantlo", -38201L - i, 100L))
    val hi = (0 until 50).map(i =>
      ("planthi", -38301L - i, if (i % 2 == 0) 0L else 1000L))
    lo ++ hi
  }

  /** X361 — Neyman allocation of a labeling budget (Neyman 1934, the
    * stratified-sampling optimum): "we can afford to human-label n
    * documents — how many from each stratum?" Proportional allocation
    * (n_h ∝ N_h) is the default everyone ships; the optimum allocates
    * n_h ∝ N_h·σ_h — big AND noisy strata get the labels — and the
    * theorem says its estimator variance is never worse. This operator
    * computes both allocations over the per-language strata (+ the
    * [[NeymanPlant]] controls) with exact integer moments, and MEASURES
    * the theorem: the variance scores of both allocations are in the
    * report, Neyman ≤ proportional spec-pinned.
    *
    * Integer discipline: per stratum the exact moment fold (N, Σy, Σy²
    * over n_chars); population variance v2 = (N·Σy² − (Σy)²) div N²
    * (floored — both engines floor identically); σ = ⌊√v2⌋ through
    * IEEE double sqrt (exact ints ≪ 2⁵³ — the CLAUDE.md sqrt-divide
    * rule); allocations by floor + largest-remainder (ties to the
    * stratum name — deterministic), with a 1-unit floor per stratum
    * (σ = 0 strata would otherwise starve and leave the estimator
    * undefined — the standard practice, applied and stated); variance
    * score({n_h}) = Σ N_h²·v2_h div n_h with the constant 1/N² dropped
    * (identical across allocations, so the comparison is exact).
    *
    * Measured at sf0.01: the bimodal plant stratum (σ = 500, 3.6× the
    * noisiest language) absorbs 27 of 100 labels under Neyman vs 8
    * under proportional, the constant stratum drops to the 1-unit
    * floor, and the Neyman variance score is 1.52× smaller
    * (134 367 499 → 88 574 000) — the theorem, as a number.
    *
    * Scale: ONE combinable 3-moment fold per stratum; everything after
    * is driver math over |strata| rows. */
  def q381NeymanAlloc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    val base = docs(s, dir)
      .select($"lang".as("stratum"),
        length(coalesce($"text", lit(""))).cast("long").as("y"))
      .unionByName(NeymanPlant.toDF("stratum", "doc_id", "y")
        .select($"stratum", $"y"))
    val m = base.groupBy($"stratum")
      .agg(count(lit(1)).as("n"), sum($"y").as("sy"),
        sum($"y" * $"y").as("syy"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val strata = m.map { case (st, n, sy, syy) =>
      val v2 = (n * syy - sy * sy) / (n * n)
      val sigma = math.sqrt(v2.toDouble).toLong
      (st, n, v2, sigma)
    }
    val budget = NeymanBudget
    // floor + largest remainder (remainder desc, stratum asc), then the
    // 1-unit minimum: every zero stratum takes one unit, all funded from
    // the single largest allocation (ties to the first stratum) — a
    // deterministic rule both engines state identically
    def alloc(w: Seq[Long]): Seq[Long] = {
      val tot = w.sum
      require(tot > 0L, "q381: all stratum weights zero")
      val base0 = w.map(x => budget * x / tot)
      val rem = w.map(x => budget * x % tot)
      val short = (budget - base0.sum).toInt
      val order = rem.zipWithIndex.zip(strata.map(_._1))
        .sortBy { case ((r, _), st) => (-r, st) }.map(_._1._2)
      val bumped = base0.toArray
      order.take(short).foreach(i => bumped(i) += 1L)
      val zeros = bumped.indices.filter(bumped(_) == 0L)
      if (zeros.nonEmpty) {
        val donor = bumped.indices.maxBy(k => (bumped(k), -k))
        bumped(donor) -= zeros.length.toLong
        zeros.foreach(i => bumped(i) += 1L)
      }
      bumped.toSeq
    }
    val nProp = alloc(strata.map(_._2))
    val nNey = alloc(strata.map(t => t._2 * t._4))
    def score(ns: Seq[Long]): Long =
      strata.zip(ns).map { case ((_, n, v2, _), nh) => n * n * v2 / nh }.sum
    val rows = strata.zipWithIndex.map { case ((st, n, v2, sigma), i) =>
      org.apache.spark.sql.Row(s"s_$st", n, v2, sigma, nProp(i), nNey(i))
    } ++ Seq(
      org.apache.spark.sql.Row("z1_var_prop", budget, score(nProp), 0L, 0L, 0L),
      org.apache.spark.sql.Row("z2_var_neyman", budget, score(nNey), 0L, 0L, 0L))
    LocalReport.frame(s, rows,
      "stratum" -> StringType, "n_docs" -> LongType, "v2" -> LongType,
      "sigma" -> LongType, "n_prop" -> LongType, "n_neyman" -> LongType)
  }

  /** q369's estimator count, shared with the generated oracle. */
  private[graft] val AmsReps = 32

  /** The AMS estimator skim — unbiased mean of the Z² estimates and the
    * (r/4-group, 4-wide) median-of-means — ONE definition shared by the
    * q369 batch sketch and the streaming F2 feed (the sprtWalk rule).
    * All estimates ≥ 0, so `/` ≡ floor on both engines. */
  private[graft] def amsMeanMom(zs: Seq[Long]): (Long, Long) = {
    val r = zs.length
    val ests = zs.map(z => z * z)
    val mean = ests.sum / r
    val groupMeans =
      (0 until r / 4).map(g => ests.slice(g * 4, g * 4 + 4).sum / 4)
    val gs = groupMeans.sorted
    (mean, (gs(r / 8 - 1) + gs(r / 8)) / 2)
  }

  /** Driver/executor-side evaluation of ONE AMS sign — the same value
    * [[amsSignsSql]] computes per row (the spec and the streaming feed
    * replay it without an expression). */
  private[graft] def amsSign(salt: String, rep: Int, key: String): Long = {
    val f = graft.functions.Fingerprint.hashString(key)
    val t = (f % 1000003L) * (f % 1000003L)
    if ((graft.functions.Fingerprint.hashString(s"$salt:$rep:$key:$t")
        / 64L) % 2L == 0L) 1L else -1L
  }

  /** The ONE let-bound AMS signs-array expression (q369's measured
    * squared-tail sign hash): for a string key expression, an array of
    * `r` ±1 signs with the inner key fingerprint bound once per row —
    * shared by the q369 batch sketch, the q374 bilinear join estimator
    * and the streaming F2 feed so the sign definition can never drift
    * between consumers (the sprtWalk rule).
    *
    * Evaluated via the linear-fold identity
    * ([[graft.functions.Fingerprint.Pow31]]):
    * fp('salt:i:' ++ sfx) = Cᵢ·31^|sfx| + fp(sfx) (mod 1e9+7) with
    * Cᵢ = fp('salt:i:') a DRIVER constant — so the per-row cost is ONE
    * suffix fold plus r integer multiply-adds instead of r full string
    * folds inside an interpreted HOF (r = 512 for the sign-flip tests:
    * measured 6.6 s → the fold was the whole cost of q399's MC leg).
    * Values are bit-identical to hashing the full concatenation — the
    * driver replay [[amsSign]] still does exactly that, and the specs
    * pin the two paths against each other. */
  private[graft] def amsSignsSql(keyExpr: String, salt: String, r: Int): String = {
    val cs = (0 until r)
      .map(i => graft.functions.Fingerprint.hashString(s"$salt:$i:"))
    val csLit = cs.map(_ + "L").mkString(", ")
    s"""element_at(transform(array(graft_fingerprint($keyExpr)), f ->
       |  element_at(transform(array(concat($keyExpr, ':',
       |      CAST(pmod(f, 1000003) * pmod(f, 1000003) AS STRING))), sfx ->
       |    element_at(transform(array(named_struct(
       |        'h', graft_fingerprint(sfx),
       |        'pw', ${graft.functions.Fingerprint.pow31LenSql("sfx")})), hp ->
       |      transform(array($csLit), c ->
       |        CASE WHEN (pmod(c * hp.pw + hp.h,
       |            ${graft.functions.Fingerprint.FpMod}L)
       |          div 64) % 2 = 0 THEN 1L ELSE -1L END)), 1)), 1)), 1)"""
      .stripMargin
  }

  /** Per-partition AMS sign-sum fold over (group, key) rows — ONE
    * definition shared by the q369 F2 sketch and the q374 bilinear
    * join estimator. Per row it evaluates the SAME squared-tail sign
    * family as [[amsSign]]/[[amsSignsSql]] via the linear fold identity
    * ([[graft.functions.Fingerprint.Pow31]]): h = fp(key:tail²),
    * pw = 31^|key:tail²|, sign_i = bit6 of (fp('salt:i:')·pw + h mod
    * 1e9+7) — and folds (count, Z_0..Z_{r-1}) per group imperatively in
    * the partition (the q296 mapPartitions precedent: a 1+2r-column SQL
    * HashAggregate measured ~6 µs/row at 33 aggregate buffers on q374's
    * 2.7M-row scan — wide aggregate buffers defeat the fast path — vs
    * ~0.1 µs/row for this fold; the sums are identical and
    * order-independent). Partials are |groups|·(r+1) longs per
    * partition — the same mergeable-by-addition algebra the sketch lane
    * ships, so the collect is partitions×groups tiny rows. */
  private[graft] def amsZFold(keyed: DataFrame, salt: String, r: Int)
      : Map[String, Array[Long]] = {
    val s = keyed.sparkSession
    import s.implicits._
    graft.functions.Fingerprint.register(s)
    val bases = (0 until r)
      .map(i => graft.functions.Fingerprint.hashString(s"$salt:$i:")).toArray
    val hp = keyed
      .select($"g", $"ks", expr("graft_fingerprint(ks)").as("fk"))
      .select($"g", expr(
        """concat(ks, ':',
          |  CAST(pmod(fk, 1000003) * pmod(fk, 1000003) AS STRING))"""
          .stripMargin).as("sfx"))
      .select($"g", expr("graft_fingerprint(sfx)").as("h"),
        expr(graft.functions.Fingerprint.pow31LenSql("sfx")).as("pw"))
    hp.as[(String, Long, Long)].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Array[Long]]
      it.foreach { case (g, h, pw) =>
        val a = m.getOrElseUpdate(g, new Array[Long](r + 1))
        a(0) += 1L
        var i = 0
        while (i < r) {
          val v = (bases(i) * pw + h) % 1000000007L
          a(i + 1) += (if ((v / 64L) % 2L == 0L) 1L else -1L)
          i += 1
        }
      }
      m.iterator.map { case (g, a) => (g, a.toIndexedSeq) }
    }.collect()
      .groupBy(_._1)
      .map { case (g, xs) =>
        g -> Array.tabulate(r + 1)(j => xs.map(_._2(j)).sum) }
  }

  /** X348 — AMS / Tug-of-War second-moment (F2) sketch (Alon, Matias &
    * Szegedy 1996): F2 = Σ_v f_v² is the self-join size — the number
    * the join-planning lane (q147's pre-flight audit, q308's Selinger
    * costs) needs for any key it has NOT pre-counted, and the exact
    * answer requires a full groupBy over the key space. The AMS sketch
    * estimates it from [[AmsReps]] ±1 counters: per estimator r,
    * Z_r = Σ_rows sign_r(key) and E[Z_r²] = F2 — mergeable by ADDITION
    * (Z is linear in the rows, the sketch lane's X252/X283 algebra), so
    * shards combine with 32 integer adds.
    *
    * The sign hash was MEASURED before being trusted (the q332/q342/
    * q359 rule), and the measurement caught the trap again: bit 6 of
    * fp('ams:r:source') over this corpus's sequential-ish source names
    * ('src0'..'src19') left the signs so correlated that the mean
    * estimate read 7.45× F2 (err 7 450 000 ppm); the q332-hardened
    * squared tail fp('ams:r:key:(fp(key) mod 1000003)²') brings it to
    * 18 800 ppm (1.9%). The spec re-measures the REJECTED form and
    * pins it ≥ 50× worse — the rejection is part of the contract.
    *
    * Report: one row per estimator (Z_r, Z_r², error vs exact), the
    * exact F2 (rep 97 — the truth leg this audit calibrates against),
    * the unbiased mean estimator (rep 98, the AMS average — 18 800 ppm
    * here) and the median-of-means over 8 groups of 4 (rep 99, the
    * published tail-guarantee form — less accurate here, 150 000 ppm,
    * reported honestly: robustness costs variance on well-behaved
    * data).
    *
    * Scale: the sketch is ONE narrow let-bound signs-array projection —
    * the inner key fingerprint binds ONCE per row as a lambda field
    * (the q235/q367 idiom: 1 + [[AmsReps]] = 33 hash evaluations per
    * row, not the 3·32 = 96 the per-column inlining re-derived) —
    * exploded into a combinable [[AmsReps]]-key partial agg whose
    * shuffle is 32 rows per map partition; at 100 TB the exact leg
    * disappears and the sketch is the only pass. All arithmetic int64
    * (Z² ≤ n², ×10⁶ for the error division stays under 2⁶³ to
    * n ≈ 3·10⁶ per shard; shard merges add Z, never Z²). */
  def q369AmsF2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.LongType
    Fingerprint.register(s)
    val r = AmsReps
    // the [[amsZFold]] partition fold — same sign family, same sums,
    // one narrow scan with no ×r row generation (see amsZFold scaladoc)
    val folded = amsZFold(
      docs(s, dir).select(lit("x").as("g"), $"source".as("ks")), "ams", r)
    require(folded.contains("x"), "q369: empty corpus — no sign sums")
    val zRow = folded("x")
    val n = zRow(0)
    val zs = (0 until r).map(i => zRow(i + 1))
    val exact = docs(s, dir).groupBy($"source").agg(count(lit(1)).as("c"))
      .agg(sum($"c" * $"c")).head().getLong(0)
    def err(est: Long): Long = math.abs(est - exact) * 1000000L / exact
    val (mean, mom) = amsMeanMom(zs)
    val rows = zs.zipWithIndex.map { case (z, i) =>
      org.apache.spark.sql.Row(i.toLong, z, z * z, err(z * z))
    } ++ Seq(
      org.apache.spark.sql.Row(97L, n, exact, 0L),
      org.apache.spark.sql.Row(98L, r.toLong, mean, err(mean)),
      org.apache.spark.sql.Row(99L, (r / 4).toLong, mom, err(mom)))
    LocalReport.frame(s, rows,
      "rep" -> LongType, "z_or_n" -> LongType, "estimate" -> LongType,
      "err_ppm" -> LongType)
  }

  /** q388's Monte-Carlo replicate count, the injected per-pair shift for
    * the power leg (cents), and the two 12-pair exact-enumeration plants
    * (cents): a shifted set whose exact p the spec/oracle enumerate over
    * all 2¹² sign masks, and a sign-symmetric set whose T_obs = 0 forces
    * p = 1e6 exactly — the calibration fixed point. */
  private[graft] val SfReps = 128
  private[graft] val SfShiftCents = 2000000L
  private[graft] val SfPlantShifted: Seq[Long] =
    Seq(300L, 500L, 700L, -100L, 200L, 400L, 600L, 800L, -200L, 100L,
      900L, 1000L)
  private[graft] val SfPlantNull: Seq[Long] =
    Seq(300L, -300L, 500L, -500L, 700L, -700L, 900L, -900L, 1100L,
      -1100L, 1300L, -1300L)

  /** X369 — paired sign-flip permutation test (Fisher randomization):
    * the uncertainty lane quantifies (bootstrap q344), adjusts (CUPED
    * q346) and sequentially gates (SPRT q363); this adds the
    * assumption-free SIGNIFICANCE test for paired data — under H0 the
    * paired differences d_i are sign-symmetric, so every sign
    * assignment of Σ±d_i is equally likely and the p-value is the
    * fraction of assignments at least as extreme as the observed T.
    * No normality, no variance estimate, exact in the small-n regime.
    *
    * Four legs: (1) exact enumeration of all 2¹² masks over
    * [[SfPlantShifted]] — the textbook exact test, pinned; (2) the
    * same over [[SfPlantNull]] (T_obs = 0) — p = 1e6 exactly, the
    * calibration fixed point; (3) Monte-Carlo on the corpus pairs
    * (per-customer order-spend cents in 1995 vs 1996, both years
    * present) with [[SfReps]] deterministic sign draws — the SHARED
    * [[amsSign]]/[[amsSignsSql]] definition (the sprtWalk rule: the
    * q369 sketch, the F2 feed and this test can never drift apart),
    * p = (extreme+1)·1e6 div (R+1), the standard add-one permutation
    * p-value; (4) the same draws re-summed with +[[SfShiftCents]]
    * injected per pair — the power leg (T'_r = Σs_i(d_i+Δ) shares the
    * SAME signs, so both legs ride one aggregation).
    *
    * Measured at sf0.01: the shifted plant's exact p = 5371 ppm
    * (22 of 4096 masks), the null plant sits at exactly 1e6; the
    * corpus pairs carry a POSITIVE drift (mean +1.48M cents/pair,
    * 1996 over 1995) yet p = 201550 — heavy-tailed per-customer
    * differences make the drift non-significant under randomization,
    * exactly the verdict a t-test's normality assumption would get
    * wrong; the injected shift drives p to the MC floor
    * 1e6/(R+1) = 7751 (0 of 128 replicates as extreme) — detection,
    * as a number.
    *
    * Scale: pairs are ONE year-pivoted aggregate over orders; the MC
    * leg is one narrow let-bound signs-array projection (33-hash idiom)
    * exploded into a combinable R-key partial agg — map-side combine
    * makes the shuffle R rows per partition; enumeration legs are
    * 4096-mask driver math over 12 literals. */
  def q388SignFlipTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    Fingerprint.register(s)
    val r = SfReps
    def exact(ds: Seq[Long]): (Long, Long, Long) = {
      val tObs = ds.sum
      val nExt = (0 until (1 << ds.length)).count { mask =>
        val t = ds.zipWithIndex.map { case (d, i) =>
          if (((mask >> i) & 1) == 1) -d else d
        }.sum
        math.abs(t) >= math.abs(tObs)
      }.toLong
      (tObs, nExt, nExt * 1000000L / (1L << ds.length))
    }
    val byYear = Tables.load(s, dir, "orders")
      .select($"o_custkey".cast("long").as("c"),
        year($"o_orderdate").as("y"),
        graft.functions.Exact.cents($"o_totalprice").as("cents"))
      .filter($"y".isin(1995, 1996))
      .groupBy($"c", $"y").agg(sum($"cents").as("v"))
    val pairs = byYear.filter($"y" === 1995).select($"c", $"v".as("v95"))
      .join(byYear.filter($"y" === 1996).select($"c", $"v".as("v96")),
        Seq("c"))
      .select($"c", ($"v96" - $"v95").as("d"))
    val mc = pairs
      .select($"d", posexplode(expr(
        amsSignsSql("CAST(c AS STRING)", "sfp", r))).as(Seq("rep", "sgn")))
      .groupBy($"rep").agg(
        count(lit(1)).as("n"),
        sum($"sgn" * $"d").as("t"),
        sum($"sgn" * ($"d" + lit(SfShiftCents))).as("ts"))
      .orderBy($"rep").collect()
    require(mc.length == r, s"q388: expected $r replicates, got ${mc.length}")
    val nPairs = mc.head.getLong(1)
    val obs = pairs.agg(sum($"d")).head().getLong(0)
    val obsS = obs + nPairs * SfShiftCents
    def mcLeg(tOf: org.apache.spark.sql.Row => Long, tObs: Long) = {
      val nExt = mc.count(row => math.abs(tOf(row)) >= math.abs(tObs)).toLong
      (nExt, (nExt + 1L) * 1000000L / (r + 1L))
    }
    val (e3, p3) = mcLeg(_.getLong(2), obs)
    val (e4, p4) = mcLeg(_.getLong(3), obsS)
    val (t1, e1, p1) = exact(SfPlantShifted)
    val (t2, e2, p2) = exact(SfPlantNull)
    LocalReport.frame(s, Seq(
      org.apache.spark.sql.Row("1_plant_exact", 12L, t1, e1, 4096L, p1),
      org.apache.spark.sql.Row("2_plant_null_exact", 12L, t2, e2, 4096L, p2),
      org.apache.spark.sql.Row("3_corpus_mc", nPairs, obs, e3, r.toLong, p3),
      org.apache.spark.sql.Row("4_corpus_shifted_mc", nPairs, obsS, e4,
        r.toLong, p4)),
      "scope" -> StringType, "n_pairs" -> LongType, "t_obs" -> LongType,
      "n_extreme" -> LongType, "n_total" -> LongType, "p_ppm" -> LongType)
  }

  /** q392's miscoverage rate α = 10% and the calibration-pollution
    * plant: 40 synthetic rows whose residuals dwarf every real one —
    * the heavy-tail stressor for the guarantee-vs-width lesson. */
  private[graft] val ConfAlphaPct = 10L
  private[graft] val ConfPlantN = 40

  /** X374 — split-conformal prediction intervals (Vovk's conformal
    * prediction, the split/inductive form of Papadopoulos et al. 2002;
    * Lei et al. 2018's recipe): the uncertainty lane can quantify
    * (bootstrap q344), test (q388) and sequence (q363) — conformal adds
    * the DISTRIBUTION-FREE finite-sample interval: fit anything on a
    * train split, score absolute residuals on a held-out calibration
    * split, take q̂ = the ⌈(n+1)(1−α)⌉-th smallest score, and
    * [ŷ ± q̂] covers a fresh exchangeable point with probability
    * ≥ 1−α — no normality, no asymptotics, the model can even be bad
    * (the guarantee degrades the WIDTH, never the coverage).
    *
    * Concrete task: predict a document's n_chars from its n_words with
    * the train split's exact median chars-per-word (milli — one
    * GlobalOrder middle-element pass, the robust 1-parameter model);
    * splits are pmod(fp(squared-tail doc key), 4): {0,1} train, 2
    * calibration, 3 test. Two legs: CLEAN, and POLLUTED — the
    * calibration set plus [[ConfPlantN]] synthetic heavy-tail rows
    * (y = 10⁶ at x = 10, residuals dwarfing every real score). The
    * lesson the report makes measurable, at sf0.01: the clean leg's
    * q̂ = 15 chars with realized test coverage 875000 ppm — the
    * guarantee is MARGINAL (E[coverage] ≥ 1−α over exchangeable
    * draws), and 105/120 sits within one binomial σ of 90%, stated
    * precisely rather than rounded up; the polluted leg's 40 plants
    * are ≥ 10% of the calibration mass, so the 90th-percentile score
    * lands INSIDE the plant block and q̂ explodes 15 → 999945 while
    * coverage rises to 10⁶ ppm — outliers in calibration cost WIDTH
    * (66000×), never coverage. That asymmetry is the method.
    *
    * Integer discipline: exact order statistics for both the median
    * and the conformal quantile (rank = ⌈(n+1)(1−α)⌉ via the
    * (9(n+1)+9) div 10 ceiling), residuals exact int64, coverage ppm.
    *
    * Scale: THREE GlobalOrder range passes (train median, two
    * calibration quantiles) over the persisted base frame (the
    * persist-once rule for multi-pass consumers), one test-split
    * coverage fold per leg; the report is 5 rows. At 100 TB the
    * calibration quantile is the only global-order pass on the hot
    * path, and it ranks the CALIBRATION split only. */
  def q392ConformalIntervals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    Fingerprint.register(s)
    val base = docs(s, dir)
      .selectExpr("doc_id", "size(split(text, ' ')) AS x",
        "CAST(length(coalesce(text, '')) AS BIGINT) AS y")
      .where("x >= 1")
      .withColumn("sp", expr(
        "pmod(graft_fingerprint(concat('cp:', CAST(doc_id AS STRING), ':'," +
          " CAST(pmod(doc_id, 1000003) * pmod(doc_id, 1000003)" +
          " AS STRING))), 4)"))
      .persist()
    try {
      base.count() // materialize once for the three rank passes
      val train = base.filter($"sp" <= 1L)
        .selectExpr("doc_id", "y * 1000L div x AS ratio")
      val (trRanked, nTrain) = graft.operators.GlobalOrder
        .withRowNumberAndTotal(train, Seq($"ratio", $"doc_id"), "rn")
      val slope = trRanked.filter($"rn" === (nTrain + 1L) / 2L)
        .select($"ratio").head().getLong(0)
      def scoresOf(df: DataFrame) = df
        .selectExpr("doc_id", s"abs(y - x * ${slope}L div 1000L) AS sc")
      val calScores = scoresOf(base.filter($"sp" === 2L))
      val plant = s.range(0, ConfPlantN.toLong, 1, 1).selectExpr(
        "-id - 1 AS doc_id", "CAST(10 AS BIGINT) AS x",
        "CAST(1000000 AS BIGINT) AS y")
      def qhatOf(scores: DataFrame): (Long, Long, Long) = {
        val (ranked, n) = graft.operators.GlobalOrder
          .withRowNumberAndTotal(scores, Seq($"sc", $"doc_id"), "rn")
        val k = (9L * (n + 1L) + 9L) / 10L
        require(k <= n, s"q392: calibration too small for alpha (k=$k n=$n)")
        (ranked.filter($"rn" === k).select($"sc").head().getLong(0), n, k)
      }
      val (qC, nC, _) = qhatOf(calScores)
      val (qP, nP, _) = qhatOf(scoresOf(plant).unionByName(calScores))
      val test = scoresOf(base.filter($"sp" === 3L))
      def cover(q: Long): (Long, Long) = {
        val r = test.agg(count(lit(1)).as("n"),
          sum(when($"sc" <= q, 1L).otherwise(0L)).as("c")).head()
        (r.getLong(0), r.getLong(1))
      }
      val (nT, cC) = cover(qC)
      val (_, cP) = cover(qP)
      LocalReport.frame(s, Seq(
        org.apache.spark.sql.Row("0_model", nTrain, slope, 0L, 0L, 0L),
        org.apache.spark.sql.Row("1_clean_cal", nC, slope, qC, 0L, 0L),
        org.apache.spark.sql.Row("2_clean_test", nT, slope, qC, cC,
          cC * 1000000L / nT),
        org.apache.spark.sql.Row("3_polluted_cal", nP, slope, qP, 0L, 0L),
        org.apache.spark.sql.Row("4_polluted_test", nT, slope, qP, cP,
          cP * 1000000L / nT)),
        "scope" -> StringType, "n" -> LongType, "slope_milli" -> LongType,
        "qhat" -> LongType, "covered" -> LongType,
        "coverage_ppm" -> LongType)
    } finally base.unpersist(blocking = false)
  }

  /** q399's experiment count, planted-effect count/shift, and α. */
  private[graft] val FdrExperiments = 40
  private[graft] val FdrEffects = 8
  private[graft] val FdrShiftCents = 40000000L
  private[graft] val FdrAlphaPpm = 100000L
  private[graft] val FdrReps = 512

  /** X382 — Benjamini-Hochberg FDR control across concurrent
    * experiments (Benjamini & Hochberg 1995): the uncertainty lane
    * tests ONE hypothesis at a time (q388, q291, q352); a platform
    * runs dozens concurrently, and at α = 10% a naive per-test
    * threshold falsely flags ~3 of every 32 true nulls — the
    * multiple-testing problem BH exists to control. Traffic splits
    * into [[FdrExperiments]] disjoint experiments (customer mod 40 —
    * how platforms actually share traffic); each runs q388's paired
    * sign-flip MC test (the SHARED [[amsSign]] family, salt 'fdr', the
    * add-one p-value) on 1995-vs-1996 spend pairs, with
    * [[FdrEffects]] experiments carrying a planted +[[FdrShiftCents]]
    * per-pair effect — so the TRUTH of every hypothesis is known and
    * both procedures' realized false discoveries are EXACT numbers.
    * BH: sort p ascending, reject the largest k with
    * p₍ₖ₎·m ≤ k·α (integer cross-multiplication — no division), a
    * STEP-UP rule whose mechanics the MC floor makes visible: the
    * smallest achievable p is 1e6/513 = 1949 ppm, which FAILS the BH
    * line at k = 1 (α/m = 2500... barely passes — but weaker
    * evidence like e04's 7797 clears only because eight discoveries
    * raise the line to 20000: the "discoveries help each other"
    * character of step-up procedures, visible in the frame). Two
    * constructions were REJECTED on measurement before this one: raw
    * year differences made two "null" experiments genuinely
    * significant (the corpus's own drift concentrates in slices — a
    * statement about the data, not the procedure), and a rolling-fold
    * 'sym' symmetrizer locked signs to the test's 'fdr' family within
    * key-length classes (fp(p++s) is AFFINE in the shared suffix — the
    * q279 lesson biting ACROSS salts; two nulls landed at the exact MC
    * floor, p(each) = 1/513). Measured with the middle-square
    * symmetrizer at sf0.01: both procedures detect all 8 effects
    * (e04's p = 7797 included) and reject zero nulls — the realized
    * null p's cluster HIGH because heavy-tailed slices make the
    * sign-flip statistic conservative (a dominant |d| pins |T_r| near
    * |t0|), stated rather than retried until a false positive showed
    * up.
    *
    * Scale: the per-experiment MC rides ONE combinable
    * (experiment, rep) partial agg over the pair scan (each pair
    * belongs to exactly one experiment, so the whole 40-test battery
    * costs ONE q388); the BH scan is m-row driver math. */
  def q399BhFdr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    Fingerprint.register(s)
    val (m, r) = (FdrExperiments, FdrReps)
    val byYear = Tables.load(s, dir, "orders")
      .select($"o_custkey".cast("long").as("c"),
        year($"o_orderdate").as("y"),
        graft.functions.Exact.cents($"o_totalprice").as("cents"))
      .filter($"y".isin(1995, 1996))
      .groupBy($"c", $"y").agg(sum($"cents").as("v"))
    // the null must BE null: the corpus's own 1995→1996 drift
    // concentrates in some traffic slices (measured before this
    // construction: two "null" experiments sat at p < 1% on raw
    // differences — real drift, not multiple-testing flukes), so the
    // magnitudes keep their heavy tails but the SIGN is randomized per
    // customer. The symmetrizer must come from a DIFFERENT hash
    // structure than the test's amsSign family: a rolling-fold 'sym'
    // salt shares its suffix with 'fdr:r' strings, and fp(p++s) is
    // AFFINE in the shared suffix — within a key-length class the two
    // sign bits lock together (measured: two null experiments at the
    // exact MC floor, p(each) = 1/513). The middle-square fp² div 2¹⁶
    // bit (q291's arm family) squares that relation away.
    val pairs = byYear.filter($"y" === 1995).select($"c", $"v".as("v95"))
      .join(byYear.filter($"y" === 1996).select($"c", $"v".as("v96")),
        Seq("c"))
      .selectExpr("c", s"pmod(c, $m) AS e",
        s"""(CASE WHEN pmod(
           |    graft_fingerprint(concat('sym:', CAST(c AS STRING))) *
           |    graft_fingerprint(concat('sym:', CAST(c AS STRING)))
           |    div 65536, 2) = 0 THEN 1L ELSE -1L END)
           | * (v96 - v95) + CASE WHEN pmod(c, $m) < $FdrEffects
           |  THEN ${FdrShiftCents}L ELSE 0L END AS d""".stripMargin)
    val mc = pairs
      .select($"e", $"d", posexplode(expr(
        amsSignsSql("CAST(c AS STRING)", "fdr", r))).as(Seq("rep", "sgn")))
      .groupBy($"e", $"rep").agg(
        count(lit(1)).as("n"), sum($"sgn" * $"d").as("t"))
      .groupBy($"e").agg(max($"n").as("n"),
        collect_list(struct($"rep", $"t")).as("ts"))
      .collect().map { row =>
        (row.getLong(0), row.getLong(1),
          row.getSeq[org.apache.spark.sql.Row](2)
            .map(x => x.getLong(1)).toSeq)
      }
    val obs = pairs.groupBy($"e").agg(sum($"d").as("t0"), count(lit(1)))
      .collect().map(row => row.getLong(0) -> (row.getLong(1),
        row.getLong(2))).toMap
    val perExp = mc.map { case (e, _, ts) =>
      val (t0, np) = obs(e)
      val ext = ts.count(t => math.abs(t) >= math.abs(t0)).toLong
      val p = (ext + 1L) * 1000000L / (r + 1L)
      (e, np, t0, p)
    }.sortBy(_._1)
    // BH step-up: reject the k* smallest p-values where k* is the
    // largest k with p_(k) * m <= k * alpha (cross-multiplied, exact)
    val sorted = perExp.sortBy(x => (x._4, x._1))
    val kStar = (1 to sorted.length).filter(k =>
      sorted(k - 1)._4 * m.toLong <= k.toLong * FdrAlphaPpm).lastOption
      .getOrElse(0)
    val bhSet = sorted.take(kStar).map(_._1).toSet
    val rows = perExp.map { case (e, np, t0, p) =>
      val naive = if (p <= FdrAlphaPpm) 1L else 0L
      val bh = if (bhSet.contains(e)) 1L else 0L
      val truth = if (e < FdrEffects) 1L else 0L
      org.apache.spark.sql.Row(f"e$e%02d", np, t0, p, naive, bh, truth)
    } ++ {
      def leg(dec: ((Long, Long, Long, Long)) => Boolean) = {
        val rej = perExp.filter(dec)
        (rej.length.toLong,
          rej.count(_._1 >= FdrEffects).toLong)
      }
      val (nN, fN) = leg(x => x._4 <= FdrAlphaPpm)
      val (nB, fB) = leg(x => bhSet.contains(x._1))
      Seq(
        org.apache.spark.sql.Row("z_naive", nN, fN,
          if (nN == 0L) 0L else fN * 1000000L / nN, 0L, 0L, 0L),
        org.apache.spark.sql.Row("z_bh", nB, fB,
          if (nB == 0L) 0L else fB * 1000000L / nB, kStar.toLong, 0L, 0L))
    }
    LocalReport.frame(s, rows,
      "scope" -> StringType, "n_pairs" -> LongType, "t_obs" -> LongType,
      "p_ppm" -> LongType, "naive_rej" -> LongType, "bh_rej" -> LongType,
      "has_effect" -> LongType)
  }

  /** q363's SPRT constants, computed ONCE (the EpochDecayPpm
    * discipline) and inlined into the generated oracle: testing
    * p0 = 30% vs p1 = 36% conversion at α = β = 5%, the per-trial
    * log-likelihood increments in micro-nats are ln(p1/p0) on a
    * conversion and ln((1−p1)/(1−p0)) on a miss, and the Wald
    * boundaries are ±ln((1−β)/α) = ±ln 19. */
  private[graft] val SprtIncPos: Long = math.round(math.log(1.2) * 1e6)
  private[graft] val SprtIncNeg: Long =
    math.round(math.log(640000.0 / 700000.0) * 1e6)
  private[graft] val SprtBound: Long = math.round(math.log(19.0) * 1e6)

  /** X340 — Wald's sequential probability ratio test (SPRT, Wald 1945)
    * as a group-sequential experiment gate: q291 reads the experiment
    * ONCE at the end; production wants to STOP EARLY — the SPRT walks
    * the conversion stream accumulating the log-likelihood ratio of
    * H1 (p1 = 36%) vs H0 (p0 = 30%) and decides the first time it
    * leaves (−ln 19, +ln 19), with both error rates ≤ 5% by Wald's
    * guarantee. Checked at BATCH boundaries of 250 trials (the
    * published group-sequential deployment — per-trial checking is a
    * sequential scan, per-batch checking is a combinable fold plus a
    * bounded driver walk, and the boundary-crossing guarantee is
    * conservative under batching).
    *
    * Three scopes: two SF-INVARIANT 2000-trial planted Bernoulli
    * streams from squared-tail fingerprints — `null` at rate p0 must
    * ACCEPT H0 (decision −1) and `effect` at rate p1 must REJECT
    * (decision +1), both typically within a few hundred trials
    * (E[increment] ≈ ∓8 milli-nats/trial) — and `corpus`: q291's
    * experiment-1 TREATMENT arm in custkey order under the same
    * hypotheses, reported honestly whatever it decides.
    *
    * Scale: per scope ONE combinable (batch, counts) fold — the plant
    * streams are generated in-query, the corpus stream ranks via
    * GlobalOrder (never an unpartitioned window) — and the LLR walk is
    * driver math over the |batches| frame. All LLR arithmetic is
    * int64 micro-nats (k·182322 caps at 9·10¹² even at a billion
    * trials). */
  /** q363's batched LLR walk over (batch, n, k) rows in batch order —
    * ONE definition shared by the batch gate and the streaming twin
    * (the secretGate rule): returns (decision, batch_dec, n_dec,
    * llr_dec, n_total, k_total). */
  private[graft] def sprtWalk(bs: Seq[(Long, Long, Long)])
      : (Long, Long, Long, Long, Long, Long) = {
    val nT = bs.map(_._2).sum
    val kT = bs.map(_._3).sum
    var (cn, ck) = (0L, 0L)
    var dec = 0L; var bDec = -1L; var nDec = nT; var llrDec = 0L
    bs.foreach { case (b, n, k) =>
      if (dec == 0L) {
        cn += n; ck += k
        val llr = ck * SprtIncPos + (cn - ck) * SprtIncNeg
        llrDec = llr
        if (llr >= SprtBound) { dec = 1L; bDec = b; nDec = cn }
        else if (llr <= -SprtBound) { dec = -1L; bDec = b; nDec = cn }
      }
    }
    (dec, bDec, nDec, llrDec, nT, kT)
  }

  /** q363's per-trial streams, shared with the streaming gate's spec:
    * the corpus experiment arm as a ranked (trial_idx0, converted)
    * frame, and the planted Bernoulli streams. */
  private[graft] def sprtCorpusTrials(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val corpusTrials = Tables.load(s, dir, "customer")
      .select($"c_custkey".cast("long").as("k"))
      .join(Tables.load(s, dir, "orders")
          .groupBy($"o_custkey".cast("long").as("k"))
          .agg(max(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("mx")),
        Seq("k"), "left")
      .select($"k",
        (coalesce($"mx", lit(0L)) >= 46500000L).as("natural"),
        expr("""pmod(graft_fingerprint(concat('exp1:', CAST(k AS STRING))) *
          |  graft_fingerprint(concat('exp1:', CAST(k AS STRING)))
          |  div 65536, 2)""".stripMargin).as("arm1"),
        (expr("""pmod(graft_fingerprint(concat('boost:', CAST(k AS STRING))) *
          |  graft_fingerprint(concat('boost:', CAST(k AS STRING)))
          |  div 65536, 2)""".stripMargin) === 0L).as("boost"))
      .where($"arm1" === 1L)
      .select($"k", ($"natural" || $"boost").cast("long").as("c"))
    graft.operators.GlobalOrder.withRowNumber(
        corpusTrials, Seq($"k"), "rk")
      .selectExpr("rk - 1 AS i", "c")
  }

  /** q363's planted Bernoulli trial stream (trial_idx0, converted). */
  private[graft] def sprtPlantTrials(s: SparkSession, salt: String,
      ratePpm: Long): DataFrame = {
    Fingerprint.register(s)
    s.range(1, 2001)
      .selectExpr("id - 1 AS i",
        s"""CASE WHEN pmod(graft_fingerprint(concat('$salt:',
           |  CAST(id AS STRING), ':',
           |  CAST((id % 1000003) * (id % 1000003) AS STRING))),
           |  1000000) < $ratePpm THEN 1L ELSE 0L END AS c""".stripMargin)
  }

  def q363SprtGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    Fingerprint.register(s)
    val batchSize = 250L
    def toBatches(trials: DataFrame): Seq[(Long, Long, Long)] = trials
      .select(expr(s"i div $batchSize").as("b"), $"c")
      .groupBy($"b").agg(count(lit(1)).as("n"), sum($"c").as("k"))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    def row(scope: String, bs: Seq[(Long, Long, Long)]) = {
      val (dec, bDec, nDec, llrDec, nT, kT) = sprtWalk(bs)
      org.apache.spark.sql.Row(scope, nT, kT,
        if (nT == 0L) 0L else kT * 1000000L / nT,
        dec, bDec, nDec, llrDec, SprtBound)
    }
    LocalReport.frame(s, Seq(
      row("corpus", toBatches(sprtCorpusTrials(s, dir))),
      row("effect", toBatches(sprtPlantTrials(s, "se", 360000L))),
      row("null", toBatches(sprtPlantTrials(s, "sn", 300000L)))),
      "scope" -> StringType, "n_trials" -> LongType, "n_conv" -> LongType,
      "rate_ppm" -> LongType, "decision" -> LongType,
      "batch_dec" -> LongType, "n_dec" -> LongType, "llr_dec" -> LongType,
      "bound" -> LongType)
  }

  /** X339 — PSI score-drift monitor (Population Stability Index, the
    * standard deployed-classifier monitoring metric): once q353's cut
    * ships, production watches whether the SCORE DISTRIBUTION drifts
    * from the deployment snapshot — PSI = Σ (p_i − q_i)·ln(p_i/q_i)
    * over baseline-decile score bands, with the 0.1/0.25 rules of
    * thumb. Integer-exact form: band edges are exact baseline deciles
    * read off the value-bounded score histogram (k-th order statistics
    * — no sort), shares are ppm with the standard 1-ppm floor on empty
    * cells, and ln uses a QUARTER-bit integer log — L = ⌊4·log2(p/q)⌋
    * = bitlen(p⁴ div q⁴) − 1 (exact: for x ≥ 1, ⌊log2⌊x⌋⌋ = ⌊log2 x⌋
    * because powers of two are integers), signed by direction, BigInt
    * on the driver and HUGEINT in the oracle (p⁴ ≤ 10²⁴). The
    * statistic's unit is ppm·quarter-bits: ln x = (L/4)·ln 2, so the
    * published 0.10 alert converts to ≈ 577078 and 0.25 to ≈ 1442695.
    * The half-bit idiom was MEASURED first and rejected here: its
    * 0.35-nat resolution inflated the A/A scope (true PSI 0.082) past
    * the 0.10 alert; quarter-bit reads it at ≈ 0.064 — below, as an
    * A/A must.
    *
    * Two scopes: `null` — even vs odd doc_ids, the same distribution,
    * PSI ≈ 0 (the calibration half, q291's A/A discipline) — and
    * `plant` — the current counts are the baseline's rotated two bands
    * forward, a hard distribution shift that must alert.
    *
    * Scale: ONE combinable (parity, score) histogram fold (the q353
    * value-bounded argument); deciles, bands and the PSI sum are
    * driver math over the bounded histogram. Monitoring at 100 TB is
    * one narrow scan. */
  /** q362's (parity, score, count) histogram — the batch monitor and
    * the streaming band feed's spec harness share this one collect. */
  private[graft] def nbParityHistogram(s: SparkSession, dir: String)
      : Array[(Long, Long, Long)] = {
    import s.implicits._
    Fingerprint.register(s)
    docs(s, dir)
      .select(pmod($"doc_id", lit(2L)).as("par"),
        q334ScoreExpr(q334Weights).as("score"))
      .groupBy($"par", $"score").agg(count(lit(1)).as("cnt"))
      .as[(Long, Long, Long)].collect()
  }

  /** Exact baseline deciles from a (score, count) histogram: edges
    * e_1..e_9; band i = scores in (e_i, e_{i+1}] with e_0 = −inf.
    * ONE definition shared by q362 and the streaming band feed. */
  private[graft] def decileEdges(base: Seq[(Long, Long)]): IndexedSeq[Long] = {
    val nB = base.map(_._2).sum
    val cum = base.map(_._2).scanLeft(0L)(_ + _).drop(1)
    (1 to 9).map { d =>
      val k = math.max(1L, d.toLong * nB / 10L)
      base(cum.indexWhere(_ >= k))._1
    }
  }

  def q362PsiDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    val hist = nbParityHistogram(s, dir)
    val base = hist.filter(_._1 == 0L).map(t => (t._2, t._3)).sortBy(_._1)
    val cur = hist.filter(_._1 == 1L).map(t => (t._2, t._3)).sortBy(_._1)
    val nB = base.map(_._2).sum
    val edges = decileEdges(base.toSeq)
    def bandOf(score: Long): Int = edges.count(_ < score)
    def bandCounts(h: Seq[(Long, Long)]): IndexedSeq[Long] = {
      val a = new Array[Long](10)
      h.foreach { case (sc, c) => a(bandOf(sc)) += c }
      a.toIndexedSeq
    }
    val bBase = bandCounts(base.toSeq)
    val bNull = bandCounts(cur.toSeq)
    // plant: the baseline mass rotated two bands forward — a hard shift
    val bPlant = (0 until 10).map(i => bBase((i + 8) % 10))
    // quarter-bit integer log: floor(4*log2(hi/lo)) via BigInt fourth
    // powers (exact — see scaladoc); the oracle mirrors in HUGEINT
    def quarterBits(hi: Long, lo: Long): Long =
      (BigInt(hi).pow(4) / BigInt(lo).pow(4)).bitLength.toLong - 1L
    def rows(scope: String, bq: IndexedSeq[Long]) = {
      val nQ = bq.sum
      val perBand = (0 until 10).map { i =>
        val p = math.max(bBase(i) * 1000000L / nB, 1L)
        val q = math.max(bq(i) * 1000000L / nQ, 1L)
        val l = if (p >= q) quarterBits(p, q) else -quarterBits(q, p)
        (i.toLong, p, q, (p - q) * l)
      }
      val psi = perBand.map(_._4).sum
      perBand.map { case (i, p, q, c) =>
        org.apache.spark.sql.Row(scope, i, p, q, c, psi,
          if (psi >= 1442695L) 2L else if (psi >= 577078L) 1L else 0L)
      }
    }
    LocalReport.frame(s, rows("null", bNull) ++ rows("plant", bPlant),
      "scope" -> StringType, "band" -> LongType, "p_ppm" -> LongType,
      "q_ppm" -> LongType, "contrib" -> LongType, "psi" -> LongType,
      "verdict" -> LongType)
  }

  /** X338 — χ² feature selection (Yang & Pedersen 1997, the classical
    * text-classification feature ranking): BEFORE training a filter,
    * pipelines rank candidate features by class association; per hashed
    * bigram bucket (q334's feature space) the 2×2 presence×class
    * contingency over the labeled plant gives
    * χ² = N·(AD−BC)²/((A+B)(C+D)(A+C)(B+D)) — integer throughout at
    * ×1000 scale (the plant is bounded, so every product fits int64
    * with room; degenerate margins define χ² = 0). The top-8 buckets by
    * (χ² DESC, bucket) ship with their contingency cells AND the
    * corpus tie-in every selection decision needs: how many corpus
    * bigram OCCURRENCES hit each selected bucket (hash-feature reuse
    * means a discriminative bucket also catches unrelated corpus mass —
    * the collision cost q162 audits, here priced per feature).
    *
    * Scale: the χ² ranking is driver math over the 42-doc plant × 256
    * buckets; the corpus leg is ONE combinable bucket-count fold over
    * the same narrow gram projection q334 scores with. */
  def q361ChiFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.LongType
    Fingerprint.register(s)
    val B = 256
    // presence sets per class over the plant
    val present: Seq[(Long, Set[Int])] = QualityPlant.map { case (_, y, t) =>
      (y, qualityGrams(t, B).toSet)
    }
    val n1 = present.count(_._1 == 1L).toLong
    val n0 = present.size.toLong - n1
    val nAll = n1 + n0
    val chi = (0 until B).map { b =>
      val a = present.count(p => p._1 == 1L && p._2.contains(b)).toLong
      val c = present.count(p => p._1 == 0L && p._2.contains(b)).toLong
      val bb = n1 - a
      val d = n0 - c
      val denom = (a + c) * (bb + d) * n1 * n0
      val num = a * d - bb * c
      val v = if (denom == 0L) 0L else nAll * num * num * 1000L / denom
      (b.toLong, v, a, bb, c, d)
    }
    val top = chi.sortBy(x => (-x._2, x._1)).take(8)
    val topSet = top.map(_._1).toSet
    // corpus occurrences per bucket: one combinable fold over the same
    // bigram-bucket projection the classifier scores with
    val occ = docs(s, dir)
      .select(expr(
        s"""explode(element_at(transform(
           |  array(filter(split(coalesce(text, ''), ' '), x -> x <> '')),
           |  ws -> transform(slice(ws, 1, greatest(size(ws) - 1, 0)),
           |    (x, i) -> CAST(pmod(graft_fingerprint(
           |      concat(x, ' ', element_at(ws, i + 2))), $B) AS BIGINT))),
           |  1)) AS b""".stripMargin))
      .groupBy($"b").agg(count(lit(1)).as("cnt"))
      .as[(Long, Long)].collect().toMap
    val totalOcc = occ.values.sum
    val rows = top.zipWithIndex.map { case ((b, v, a, bb, c, d), i) =>
      val hits = occ.getOrElse(b, 0L)
      org.apache.spark.sql.Row(i.toLong + 1L, b, v, a, bb, c, d, hits,
        if (totalOcc == 0L) 0L else hits * 1000000L / totalOcc)
    }
    LocalReport.frame(s, rows,
      "rank" -> LongType, "bucket" -> LongType, "chi2_milli" -> LongType,
      "a_pos_with" -> LongType, "b_pos_without" -> LongType,
      "c_neg_with" -> LongType, "d_neg_without" -> LongType,
      "corpus_hits" -> LongType, "corpus_hit_ppm" -> LongType)
  }

  /** X336 — rendezvous (highest-random-weight) consistent shard
    * assignment + minimal-movement audit (Thaler & Ravishankar 1998,
    * the hashing discipline behind consistent-routing layers): X42
    * assigns shards by fp mod N, which REMAPS ~(N−1)/N of all keys when
    * N changes — a full corpus rewrite on every reshard. HRW assigns
    * key → argmax over shards of a mixed (key, shard) weight, so when a
    * shard is ADDED the argmax of every key either stays (its old max
    * still beats the rest — the candidate set only grew by one) or
    * moves TO THE NEW SHARD; keys moved ≡ keys the new shard wins
    * ≈ 1/(N+1), the provable minimum. The weight key carries TWO
    * independent squared tails mixing (id, shard) under different
    * moduli — the construction was MEASURED before being trusted (the
    * q332/q342 rule): one squared tail alone left χ² = 49.7 at 7 df
    * over 50k sequential keys (visible edge-shard bias), and a
    * double-fingerprint (fp of a decimal-re-encoded fp) was WORSE
    * (χ² = 1838 — the outer rolling hash is near-affine in the inner
    * value's digits); the two-tail form measures χ² = 3.5 (n=8),
    * 2.5 (n=9), movement 111940 ppm vs the 111111 theoretical.
    *
    * Report: per (scope ∈ {n8, n9}, shard) key counts and share ppm,
    * plus the move row — whose count equals the n9 shard-8 count
    * EXACTLY by the theorem (spec-pinned from the frame itself).
    *
    * Scale: assignment is ONE narrow projection (a 9-lambda transform
    * + array_position — no shuffle, no per-shard scan); both scopes and
    * the move flag ride the same projection into one combinable fold.
    * Reshard cost at 100 TB: move 1/(N+1) of bytes instead of N/(N+1). */
  def q359RendezvousShards(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    Fingerprint.register(s)
    def wexpr(n: Int): String =
      s"""transform(sequence(0, ${n - 1}), sh ->
         |  graft_fingerprint(concat('rv:', CAST(doc_id AS STRING), ':',
         |    CAST(sh AS STRING), ':',
         |    CAST(((doc_id + sh * 131) % 1000003) *
         |         ((doc_id + sh * 131) % 1000003) AS STRING), ':',
         |    CAST(((doc_id * 7 + sh) % 999983) *
         |         ((doc_id * 7 + sh) % 999983) AS STRING))))""".stripMargin
    // let-bind the weight arrays (the q235 collapse rule: naming the
    // array twice would inline all 8/9 fingerprint calls twice)
    def argmax(n: Int): String =
      s"""element_at(transform(array(${wexpr(n)}),
         |  ws -> array_position(ws, array_max(ws)) - 1), 1)""".stripMargin
    val assigned = docs(s, dir).select($"doc_id")
      .withColumn("s8", expr(argmax(8)))
      .withColumn("s9", expr(argmax(9)))
      .persist()
    val counts = assigned
      .select(expr("stack(2, 'n8', s8, 'n9', s9) AS (scope, shard)"))
      .groupBy($"scope", $"shard").agg(count(lit(1)).as("n_keys"))
      .as[(String, Long, Long)].collect()
    val moved = assigned.where($"s8" =!= $"s9").count()
    assigned.unpersist()
    val n = counts.filter(_._1 == "n8").map(_._3).sum
    val rows = (counts.map { case (sc, sh, c) =>
      org.apache.spark.sql.Row(sc, sh, c, c * 1000000L / n)
    } :+ org.apache.spark.sql.Row("move", -1L, moved, moved * 1000000L / n))
      .sortBy(r => (r.getString(0), r.getLong(1)))(
        Ordering.Tuple2(TextOps.utf8Ordering, Ordering.Long))
    LocalReport.frame(s, rows,
      "scope" -> StringType, "shard" -> LongType,
      "n_keys" -> LongType, "share_ppm" -> LongType)
  }

  /** q357's sample size, shared with the generated oracle. */
  private[graft] val PrioK = 64

  /** X333 — priority-sampling sum estimation (Duffield, Lund & Thorup,
    * JACM 2007): the published way to estimate a weighted total from a
    * FIXED-SIZE sample with near-optimal variance — each item gets
    * priority w/u (u uniform), the top-k priorities are kept, and the
    * estimator Σ max(w_i, τ) over kept items (τ = the (k+1)-th
    * priority) is exactly unbiased. Deterministic u: the q332-hardened
    * squared-tail fingerprint mod 2^20, +1 (so u ∈ (0,1]); the
    * priority RANKING uses one IEEE double divide w/r — bit-identical
    * on both engines (the CLAUDE.md sqrt-divide rule) — with an id
    * tie-break, while the ESTIMATOR itself clears denominators:
    * est·r_τ = Σ max(w_i·r_τ, w_τ·2^20), pure int64 (6e7 cents × 2^20
    * × 64 kept < 2^62).
    *
    * Eight independent salts measure the estimator's spread and their
    * mean (salt 99) shows the variance averaging down — the
    * unbiasedness reading. A 50-row arithmetic plant (n < k, so τ = 0
    * and the sample IS the population) must estimate EXACTLY.
    *
    * Scale: the weight frame persists once; each salt is one
    * TakeOrdered(k+1) pass (orderBy+limit never global-sorts), the
    * exact total one combinable fold — the audit leg. In production
    * only ONE salt runs and the k+1 collected rows are the entire
    * driver state; sketches from disjoint shards merge by re-selecting
    * the top-k of the union (the bottom-k/priority-sample merge rule). */
  def q357PrioritySample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    Fingerprint.register(s)
    val M = 1048576L
    val base = Tables.load(s, dir, "orders")
      .select($"o_orderkey".cast("long").as("id"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("w"))
      .persist()
    val exact = base.agg(sum($"w").as("t")).as[Long].collect().head
    def estimate(top: Seq[(Long, Long, Long)]): Long =
      if (top.length <= PrioK) top.map(_._2).sum
      else {
        val sorted = top // already TakeOrdered-sorted; tau is last
        val (wT, rT) = (sorted(PrioK)._2, sorted(PrioK)._3)
        sorted.take(PrioK).map(x => math.max(x._2 * rT, wT * M)).sum / rT
      }
    val perSalt = (0 to 7).map { t =>
      val top = base.select($"id", $"w",
          (pmod(expr(s"graft_fingerprint(concat('ps$t:', CAST(id AS STRING)," +
            s" ':', CAST((id % 1000003) * (id % 1000003) AS STRING)))"),
            lit(M)) + lit(1L)).as("r"))
        .withColumn("pri", $"w".cast("double") / $"r".cast("double"))
        .orderBy($"pri".desc, $"id")
        .limit(PrioK + 1)
        .as[(Long, Long, Long, Double)].collect()
        .map(x => (x._1, x._2, x._3)).toSeq
      (t.toLong, estimate(top), math.min(top.length, PrioK).toLong)
    }
    base.unpersist()
    val meanEst = perSalt.map(_._2).sum / 8L
    val plantExact = (1 to 50).map(i => 1000L * i).sum
    // (est − exact)·1e6 wraps int64 once totals pass ~9·10¹² cents —
    // BigInt here, HUGEINT in the oracle (the q332 BigInt-first rule)
    def errPpm(e: Long): Long =
      ((BigInt(e) - BigInt(exact)) * 1000000 / BigInt(exact)).toLong
    val rows =
      perSalt.map { case (t, e, nk) =>
        org.apache.spark.sql.Row("corpus", t, nk, e, exact, errPpm(e))
      } ++ Seq(
        org.apache.spark.sql.Row("corpus", 99L, 8L * PrioK, meanEst, exact,
          errPpm(meanEst)),
        // n < k: tau = 0, every kept weight estimates as itself — the
        // sample is the population and the estimate is exact
        org.apache.spark.sql.Row("plant", 0L, 50L, plantExact, plantExact, 0L))
    LocalReport.frame(s, rows,
      "scope" -> StringType, "salt" -> LongType, "n_kept" -> LongType,
      "est_cents" -> LongType, "exact_cents" -> LongType,
      "err_ppm" -> LongType)
  }

  /** q356's decay table: e_j = round(exp(−j/15.39)·1e6) for j = 0..15,
    * computed ONCE here and inlined into the generated oracle (the
    * q323 InvLogPpm discipline: one copy of the only transcendental
    * constants, so no cross-engine libm call can diverge). 15.39 is
    * the published R_D* fit (Muennighoff et al., 2023). */
  private[graft] val EpochDecayPpm: IndexedSeq[Long] =
    (0 until 16).map(j => math.round(math.exp(-j / 15.39) * 1e6))

  /** X332 — data-constrained scaling audit (Muennighoff et al., 2023:
    * "Scaling Data-Constrained Language Models"): when the corpus is
    * smaller than the token budget, epochs repeat data — and the
    * published fit says repeated tokens decay in value, effective data
    * D'(k) = U + U·R*·(1 − exp(−(k−1)/R*)) with R* ≈ 15.39 epochs.
    * q250 plans epoch counts and q324 caps them; this prices them: per
    * language and epoch count k = 1..16, the unique tokens U, raw
    * token-epochs k·U, effective tokens under the decay fit, the
    * marginal value of the k-th epoch, value_ppm = eff/(k·U), and the
    * worth_it verdict (marginal ≥ U/2 — the "half-value epoch" rule of
    * thumb the paper's Figure 1 motivates; with R* = 15.39 it flips at
    * exactly k = 13, so the grid exercises both branches). All
    * arithmetic is integer:
    * the exp values live in [[EpochDecayPpm]] and the driver multiplies
    * in BigInt (U·15390·ppm exceeds int64 past U ≈ 6·10⁸ — exactly the
    * corpus sizes this operator is FOR; the oracle casts to HUGEINT at
    * the same spots).
    *
    * A planted scope 'xp' with U = exactly 10⁶ rides along so the
    * decay curve itself is pinned independent of corpus token counts.
    *
    * Scale: ONE combinable (lang) token fold; everything after is
    * driver math over the |langs|-row frame (the q324 shape). */
  def q356EpochValue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    val per = docs(s, dir)
      .groupBy($"lang")
      .agg(sum(size(split($"text", " ")).cast("long")).as("u"))
      .as[(String, Long)].collect().toSeq :+ (("xp", 1000000L))
    val rows = per.sortBy(_._1)(TextOps.utf8Ordering).flatMap {
      case (lang, u) =>
        val effs = (0 to 16).map { k =>
          if (k == 0) 0L
          else (BigInt(u) + BigInt(u) * 15390 *
            (1000000L - EpochDecayPpm(k - 1)) / BigInt(1000000000L)).toLong
        }
        (1 to 16).map { k =>
          val marginal = effs(k) - effs(k - 1)
          org.apache.spark.sql.Row(lang, k.toLong, u, k.toLong * u,
            effs(k), marginal,
            (BigInt(effs(k)) * 1000000 / (BigInt(k) * u)).toLong,
            if (2L * marginal >= u) 1L else 0L)
        }
    }
    LocalReport.frame(s, rows,
      "lang" -> StringType, "k" -> LongType, "u_tokens" -> LongType,
      "raw_tokens" -> LongType, "eff_tokens" -> LongType,
      "marginal_tokens" -> LongType, "value_ppm" -> LongType,
      "worth_it" -> LongType)
  }

  /** q355's bucket table: lo_0 = 1, hi = lo + max(1, lo div 16),
    * next lo = hi, until lo exceeds 2^40 — an exact integer recurrence
    * both engines replay (driver loop here, WITH RECURSIVE in the
    * oracle), so the sketch structure is STATIC and data-independent
    * (the DDSketch property that makes shard sketches mergeable by
    * plain bucket-count addition). ~430 buckets cover 1..2^40;
    * widths are exactly lo div 16 above lo = 16, so the relative
    * error of answering with a bucket's lower edge is ≤ 1/16. */
  private[graft] val DdBounds: IndexedSeq[(Long, Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var lo = 1L
    var idx = 0L
    while (lo <= (1L << 40)) {
      val hi = lo + math.max(1L, lo / 16L)
      out += ((idx, lo, hi))
      lo = hi
      idx += 1L
    }
    out.toIndexedSeq
  }

  /** X331 — relative-error quantile sketch (the DDSketch family,
    * Masson et al., VLDB 2019): q312's KLL bounds RANK error, but the
    * question monitoring actually asks — "is p99 latency/price within
    * x% of truth?" — needs RELATIVE-error bounds, which rank sketches
    * cannot give on heavy-tailed values. Geometric buckets do: a value
    * lands in the [[DdBounds]] bucket containing it, the sketch is the
    * per-bucket count vector (combinable, mergeable across shards by
    * addition — the static bucket table IS the merge contract), and a
    * quantile answers with the lower edge of the bucket holding rank
    * ⌈qn⌉. The certificate is structural: the true rank-r value lies
    * INSIDE the answering bucket, so err_ppm ≤ bound_ppm =
    * (hi−lo)·1e6/lo ≤ 62500 (1/16 growth) on every row, by
    * construction — and measured much smaller where mass concentrates.
    *
    * Two scopes: `corpus` (o_totalprice cents, the q346 convention)
    * and `plant` — the bucket lower edges themselves as the value set,
    * where every quantile's estimate must equal the exact value
    * (err_ppm = 0): an off-by-one in either edge convention breaks it.
    *
    * Scale: bucket assignment is a ~430-row BROADCAST range join (the
    * bounded-dictionary idiom; at 100 TB the join swaps for an O(log)
    * branchless expression, nothing else changes), the sketch fold is
    * one combinable (scope, bucket) count, and the exact leg — the
    * AUDIT, not the product — is one GlobalOrder pass per scope. */
  def q355RelQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    val bnd = DdBounds.toDF("idx", "lo", "hi")
    val corpus = Tables.load(s, dir, "orders")
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .where($"c" >= 1L)
    val values = corpus.select(lit("corpus").as("scope"), $"c")
      .unionByName(DdBounds.map(_._2).toDF("c")
        .select(lit("plant").as("scope"), $"c"))
      .persist()
    val sketch = values
      .join(broadcast(bnd), $"c" >= $"lo" && $"c" < $"hi")
      .groupBy($"scope", $"idx", $"lo", $"hi")
      .agg(count(lit(1)).as("cnt"))
      .as[(String, Long, Long, Long, Long)].collect()
    val qs = Seq(500L, 900L, 950L, 990L)
    val rows = sketch.groupBy(_._1).toSeq
      .sortBy(_._1)(TextOps.utf8Ordering).flatMap { case (scope, bs) =>
        val byIdx = bs.sortBy(_._2)
        val n = byIdx.map(_._5).sum
        val cum = byIdx.map(_._5).scanLeft(0L)(_ + _).drop(1)
        val ranks = qs.map(q => math.max(1L, q * n / 1000L))
        val exact = {
          val numbered = graft.operators.GlobalOrder.withRowNumber(
            values.where($"scope" === scope).select($"c"), Seq($"c"), "rk")
          numbered.where($"rk".isin(ranks: _*))
            .select($"rk", $"c").as[(Long, Long)].collect().toMap
        }
        qs.zip(ranks).map { case (q, r) =>
          val i = cum.indexWhere(_ >= r)
          val lo = byIdx(i)._3
          val hi = byIdx(i)._4
          val ex = exact(r)
          org.apache.spark.sql.Row(scope, q, r, n, lo, ex,
            (ex - lo) * 1000000L / ex, (hi - lo) * 1000000L / lo)
        }
      }
    values.unpersist()
    LocalReport.frame(s, rows,
      "scope" -> StringType, "q_permille" -> LongType, "rank_k" -> LongType,
      "n" -> LongType, "est" -> LongType, "exact" -> LongType,
      "err_ppm" -> LongType, "bound_ppm" -> LongType)
  }

  /** q354's propagation rounds, shared with the generated oracle. */
  private[graft] val LabelPropRounds = 5

  /** q354's planted component: a 6-doc 'xx' family sharing ONE unique
    * 5-gram (a K6 in the shared-gram graph; ids -901/-902 are seeds,
    * -903..-906 must recover the label) and an isolated 'xy' doc whose
    * grams are all unique (no edges — the honest coverage miss).
    * Shared with the oracle's VALUES literal. */
  private[graft] val LabelPropPlant: Seq[(Long, String, String)] = {
    val span = "plga1 plga2 plga3 plga4 plga5"
    (1 to 6).map { i =>
      (-900L - i, "xx", s"$span plfb$i plfc$i plfd$i plfe$i")
    } :+ ((-910L, "xy", "pliz1 pliz2 pliz3 pliz4 pliz5 pliz6"))
  }

  /** X330 — semi-supervised label propagation (Zhu & Ghahramani 2002)
    * for metadata completion: a large corpus has SPARSE trusted labels
    * (here: the lang tag on a deterministic ~25% seed set) and the
    * published way to extend them without training a model is to let
    * label mass flow over a document-similarity graph until unlabeled
    * nodes inherit their neighborhood's majority. The graph is the
    * shared-RARE-5-gram graph (edges between docs sharing a 5-gram
    * whose document frequency is 2..8 — the q224-style cap is what
    * keeps boilerplate grams from densifying the graph quadratically);
    * masses are integer ppm: labeled nodes clamp at 1e6 on their own
    * label every round (the Zhu/Ghahramani clamp), unlabeled nodes take
    * inflow = Σ neighbor masses per label, normalized per node by
    * truncating division. After [[LabelPropRounds]] synchronous rounds,
    * an unlabeled node's prediction is its max-mass label (tie-break:
    * UTF-8-smallest label — struct binary order on both engines).
    *
    * Per true lang: nodes, seeds, unseeded, predicted (coverage of the
    * propagation — a node with no rare-gram edge never gets mass),
    * correct predictions, coverage and accuracy ppm. The planted 'xx'
    * K6 family must recover 4/4 and the isolated 'xy' doc must stay
    * unpredicted ([[LabelPropPlant]]).
    *
    * Scale: gram-blocked edge generation (never all-pairs: df-capped
    * grams bound each gram's pair fanout at C(8,2)); each round is ONE
    * shuffle join + one combinable (node, label) fold + a doc_id-keyed
    * window; the ITERATION state (per-node masses) localCheckpoints per
    * round — the q320 lesson: persist leaves nested InMemoryRelation
    * renderings that double the plan string per round. Static frames
    * (nodes, edges) persist once; edges is released only after the
    * eager last round has run every round against the cache. */
  def q354LabelPropagation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fingerprint.register(s)
    val plantDf = LabelPropPlant.toDF("doc_id", "lang", "text")
    val corpus = docs(s, dir).select($"doc_id", $"lang", $"text")
      .unionByName(plantDf)
    val nodes = corpus.select($"doc_id", $"lang",
      expr("""CASE WHEN doc_id < 0
             |  THEN CASE WHEN doc_id IN (-901, -902) THEN 1L ELSE 0L END
             |  ELSE CASE WHEN pmod(graft_fingerprint(
             |    concat('lp:', CAST(doc_id AS STRING))), 4) = 0
             |    THEN 1L ELSE 0L END END""".stripMargin).as("seed"))
      .persist()
    val grams = corpus
      .selectExpr("doc_id", "split(text, ' ') AS ws")
      .where("size(ws) >= 5")
      .selectExpr("doc_id", s"explode(${TextGrams.fpArrayExpr(5)}) AS g")
      .distinct()
    val rare = grams.groupBy($"g").agg(count(lit(1)).as("ndg"))
      .where($"ndg".between(2, 8)).select($"g")
    val gp = grams.join(rare, Seq("g"))
    val pairs = gp.as("a").join(gp.as("b"), Seq("g"))
      .where($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("u"), $"b.doc_id".as("v")).distinct()
    val edges = pairs.unionByName(pairs.select($"v".as("u"), $"u".as("v")))
      .persist()
    val unlabeled = nodes.where($"seed" === 0L).select($"doc_id")
    val m0 = nodes.where($"seed" === 1L)
      .select($"doc_id", $"lang".as("label"), lit(1000000L).as("m"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
    var un: DataFrame = null
    var full = m0
    for (round <- 1 to LabelPropRounds) {
      un = edges.join(full.withColumnRenamed("doc_id", "u"), Seq("u"))
        .groupBy($"v".as("doc_id"), $"label")
        .agg(sum($"m").as("infl"))
        .join(unlabeled, Seq("doc_id"))
        .withColumn("m", expr("infl * 1000000 div sum(infl) OVER " +
          "(PARTITION BY doc_id)"))
        .select($"doc_id", $"label", $"m")
        // earlier rounds ride the next round's join (q378 rule); the last
        // is eager, so every round runs while edges is still cached
        .localCheckpoint(eager = round == LabelPropRounds)
      full = m0.unionByName(un)
    }
    edges.unpersist()
    val pred = un
      .groupBy($"doc_id")
      .agg(min(struct((-$"m").as("nm"), $"label".as("l"))).as("best"))
      .select($"doc_id", $"best.l".as("plabel"))
    val out = nodes.join(pred, Seq("doc_id"), "left")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"seed").as("n_seed"),
        sum(lit(1L) - $"seed").as("n_unseeded"),
        sum(when($"plabel".isNotNull, 1L).otherwise(0L)).as("n_pred"),
        sum(when($"plabel" === $"lang", 1L).otherwise(0L)).as("n_correct"))
      .withColumn("coverage_ppm", expr(
        "CASE WHEN n_unseeded = 0 THEN 0L ELSE n_pred * 1000000 div n_unseeded END"))
      .withColumn("acc_ppm", expr(
        "CASE WHEN n_pred = 0 THEN 0L ELSE n_correct * 1000000 div n_pred END"))
      .orderBy($"lang")
    // nodes backs the lazily-returned report; it is a narrow scan +
    // 7-row literal union, so release the cache rather than pin it in
    // the shared multi-query session (the recompute is one projection).
    nodes.unpersist()
    out
  }

  /** q344's replicate count, shared with the generated oracle. */
  private[graft] val BootReps = 32

  /** X321 — CUPED variance reduction (Deng et al., WSDM 2013), the
    * published control-variate step every experimentation platform runs
    * before reading an A/B dashboard: with a pre-period covariate X,
    * analyze Yadj = Y − θ(X − X̄) instead of Y; under randomization the
    * treatment delta is unchanged while Var(Yadj) = Var(Y)(1 − ρ²).
    * θ = Sxy/Sxx and ρ² = Sxy²/(Sxx·Syy) in CLEARED-DENOMINATOR exact
    * integer form (Sxy_m = nΣxy − ΣxΣy etc.); ρ² is computed as
    * (θppm·Sxy_m) // Syy_m — the θppm-first factoring keeps every
    * intermediate under HUGEINT/BigInt bounds where the naive Sxy_m²
    * product would overflow 128 bits at cent scale.
    *
    * Two scopes ship side by side: `corpus` — X = pre-1998 customer
    * spend, Y = post-1998 spend — where the synthetic order stream has
    * NO per-customer persistence (measured corr ≈ −0.004), so CUPED
    * honestly buys ~nothing (varred_ppm ≈ 0: the calibration half,
    * exactly like q291's A/A leg); and `plant` — 200 in-query units
    * (negative ids, pure arithmetic: x from a quadratic residue spread,
    * y = 2x + bounded cubic noise + a planted 50 000-cent effect on arm
    * B under the q291 middle-square assignment) — where the covariate
    * explains ~everything (varred_ppm ≥ 0.999e6) and the ADJUSTED delta
    * pins the planted effect while the raw delta wears the full 2x
    * covariate noise.
    *
    * Scale: ONE per-customer pre/post fold, one union with the bounded
    * plant, ONE combinable (scope, arm) moment aggregation (products in
    * int64, sums in DECIMAL(38,0)); driver state is 4 moment rows.
    * BigInt `/` truncates toward zero exactly like DuckDB `//`
    * (verified on negatives — the corpus Sxy CAN be negative here). */
  def q346CupedVariance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    Fingerprint.register(s)
    val osum = Tables.load(s, dir, "orders")
      .groupBy($"o_custkey".cast("long").as("k"))
      .agg(
        sum(expr("CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN " +
          "CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0L END")).as("x"),
        sum(expr("CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01' THEN " +
          "CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0L END")).as("y"))
    val corpus = Tables.load(s, dir, "customer")
      .select($"c_custkey".cast("long").as("k"))
      .join(osum, Seq("k"), "left")
      .select(lit("corpus").as("scope"), $"k",
        coalesce($"x", lit(0L)).as("x"),
        coalesce($"y", lit(0L)).as("base_y"), lit(0L).as("boost"))
    val plant = s.range(1, 201)
      .select(lit("plant").as("scope"), (-$"id").as("k"),
        expr("(id * id % 9973L) * 1000L").as("x"),
        expr("2L * ((id * id % 9973L) * 1000L) + " +
          "(id * id * id % 101L - 50L) * 100L").as("base_y"),
        lit(5000000L).as("boost"))
    val armExpr = expr(
      "pmod(graft_fingerprint(concat('cuped:', CAST(k AS STRING))) * " +
        "graft_fingerprint(concat('cuped:', CAST(k AS STRING))) div 65536, 2)")
    val units = corpus.unionByName(plant)
      .withColumn("arm", armExpr)
      .select($"scope", $"arm", $"x",
        ($"base_y" + when($"arm" === 1L, $"boost").otherwise(0L)).as("y"))
    val moments = units.groupBy($"scope", $"arm").agg(
      count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
      sum(expr("CAST(x * y AS DECIMAL(38,0))")).as("sxy"),
      sum(expr("CAST(x * x AS DECIMAL(38,0))")).as("sxx"),
      sum(expr("CAST(y * y AS DECIMAL(38,0))")).as("syy"))
      .collect()
    def big(r: org.apache.spark.sql.Row, i: Int): BigInt = r.get(i) match {
      case l: java.lang.Long => BigInt(l)
      case d: java.math.BigDecimal => BigInt(d.toBigInteger)
    }
    val M = 1000000
    val out = moments.map(r => (r.getString(0), r.getLong(1))).sorted
      .map { case (scope, arm) =>
        val mine = moments.find(r =>
          r.getString(0) == scope && r.getLong(1) == arm).get
        val pool = moments.filter(_.getString(0) == scope)
        // columns: scope(0) arm(1) n(2) sx(3) sy(4) sxy(5) sxx(6) syy(7)
        def psum(i: Int) = pool.map(big(_, i)).sum
        val n = psum(2); val sx = psum(3); val sy = psum(4)
        val sxyM = n * psum(5) - sx * sy
        val sxxM = n * psum(6) - sx * sx
        val syyM = n * psum(7) - sy * sy
        val theta = M * sxyM / sxxM
        val varred = theta * sxyM / syyM
        val mx = M * sx / n
        val na = big(mine, 2); val mxa = M * big(mine, 3) / na
        val mya = M * big(mine, 4) / na
        val adj = mya - theta * (mxa - mx) / M
        org.apache.spark.sql.Row(scope, if (arm == 0L) "a" else "b",
          na.toLong, mxa.toLong, mya.toLong, adj.toLong, theta.toLong,
          varred.toLong)
      }
    LocalReport.frame(s, out.toSeq,
      "scope" -> StringType, "arm" -> StringType, "n" -> LongType,
      "mean_x_microcents" -> LongType, "mean_y_microcents" -> LongType,
      "adj_mean_y_microcents" -> LongType, "theta_ppm" -> LongType,
      "varred_ppm" -> LongType)
  }

  /** X319 — deterministic multiplier-bootstrap confidence interval
    * (the Poisson bootstrap of Chamandy et al. / the BLB family, the
    * published way to get uncertainty at 100 TB): a classic bootstrap
    * RESAMPLES the corpus R times — R full shuffles; the multiplier
    * form instead gives every row an iid mean-1 integer weight per
    * replicate and folds all R weighted sums in ONE scan. Here the
    * weight is Binomial(4, 1/4) — the count of zero 2-bit fields in
    * the row-and-replicate fingerprint — so everything stays int64 and
    * both engines replay it bit-for-bit (variance 0.75 vs Poisson's 1,
    * stated rather than hidden; the CI is proportionally conservative
    * on the narrow side). The per-replicate (Σw, Σwx) pairs are
    * trivially mergeable across shards — the same algebra the sketch
    * lane (X252/X283) uses.
    *
    * Metric: mean order value in micro-cents over `orders`. Output:
    * one row per replicate, the point estimate (rep 97), and the
    * [2nd, 31st] order-statistic percentile interval (reps 98/99,
    * ≈94% nominal at R=32), means computed in BigInt/HUGEINT so the
    * 1e6 scale-up never wraps.
    *
    * The weight hash extracts 2-bit fields from the STRING fingerprint
    * keyed 'boot:key:rep:(key mod 1000003)²' — the q332-hardened tail;
    * a first draft measured the field distribution before trusting it
    * (the q342 lesson: hash-bit quality is load-bearing and must be
    * measured, not assumed).
    *
    * Scale: ONE corpus scan computing R fingerprints per row feeding a
    * single combinable 2R+2-column aggregation — no resample
    * materialization, no shuffle beyond the 1-row agg; driver state is
    * R pairs. */
  def q344BootstrapCi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.LongType
    Fingerprint.register(s)
    val r = BootReps
    // Linear-fold evaluation ([[graft.functions.Fingerprint.Pow31]]):
    // with h0 = fp('boot:' ++ key ++ ':'), t the squared-tail string,
    // C1ᵢ = 31^|iᵢ ++ ':'| and C2ᵢ = fp(iᵢ ++ ':') driver constants,
    //   fp('boot:key:i:t') = (h0·C1ᵢ + C2ᵢ)·31^|t| + fp(t)  (mod 1e9+7)
    // — TWO short folds + r multiply-adds per row instead of r full
    // string folds on the operator's only corpus scan; bit-identical
    // values by the fold identity, oracle untouched.
    val base = Tables.load(s, dir, "orders")
      .select($"o_orderkey",
        graft.functions.Exact.cents($"o_totalprice").as("x"),
        expr("graft_fingerprint(concat('boot:', " +
          "CAST(o_orderkey AS STRING), ':'))").as("fh0"),
        expr("CAST(pmod(o_orderkey, 1000003) * " +
          "pmod(o_orderkey, 1000003) AS STRING)").as("t"))
      .select($"x", $"fh0", expr("graft_fingerprint(t)").as("ft"),
        expr(graft.functions.Fingerprint.pow31LenSql("t")).as("pwt"))
    val withH = base.select($"x" +:
      (0 until r).map { i =>
        val c1 = graft.functions.Fingerprint.Pow31(s"$i:".length - 1)
        val c2 = graft.functions.Fingerprint.hashString(s"$i:")
        expr(s"pmod(pmod(fh0 * ${c1}L + ${c2}L, 1000000007L) * pwt + ft, " +
          "1000000007L)").as(s"h$i")
      }: _*)
    val withW = withH.select(($"x" +:
      (0 until r).map(i => expr(
        s"(CASE WHEN h$i % 4 = 0 THEN 1L ELSE 0L END) + " +
          s"(CASE WHEN (h$i div 4) % 4 = 0 THEN 1L ELSE 0L END) + " +
          s"(CASE WHEN (h$i div 16) % 4 = 0 THEN 1L ELSE 0L END) + " +
          s"(CASE WHEN (h$i div 64) % 4 = 0 THEN 1L ELSE 0L END)")
        .as(s"w$i"))): _*)
    val aggExprs = Seq(count(lit(1)).as("n"), sum($"x").as("sx")) ++
      (0 until r).flatMap(i => Seq(
        sum(col(s"w$i")).as(s"wc$i"), sum(col(s"w$i") * $"x").as(s"ws$i")))
    val row = withW.agg(aggExprs.head, aggExprs.tail: _*).head()
    def mean(sum: Long, cnt: Long): Long =
      // 0-sentinel for an all-zero-weight replicate (P = (3/4)^(4n) per
      // replicate — vanishing beyond toy corpora, but the gate must
      // compare, not crash); the oracle carries the same CASE WHEN
      if (cnt == 0L) 0L else (BigInt(sum) * 1000000 / BigInt(cnt)).toLong
    val n = row.getLong(0); val sx = row.getLong(1)
    val reps = (0 until r).map { i =>
      val wc = row.getLong(2 + 2 * i); val ws = row.getLong(3 + 2 * i)
      (i.toLong, wc, ws, mean(ws, wc))
    }
    val byMean = reps.sortBy { case (rep, _, _, m) => (m, rep) }
    val lo = byMean(1); val hi = byMean(r - 2)
    val out = reps ++ Seq((97L, n, sx, mean(sx, n)),
      (98L, lo._2, lo._3, lo._4), (99L, hi._2, hi._3, hi._4))
    LocalReport.frame(s, out.map { case (a, b, c, d) =>
      org.apache.spark.sql.Row(a, b, c, d) },
      "rep" -> LongType, "w_count" -> LongType, "w_sum_cents" -> LongType,
      "mean_microcents" -> LongType)
  }
}
