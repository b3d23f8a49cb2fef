package graft.ops

import graft.core.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact data profiling — per-column non-null/null/distinct counts and
  * min/max (rendered as strings so one long-format schema fits any column
  * type). The whole profile is ONE aggregation pass over the table
  * (Catalyst plans the multi-distinct via Expand with partial aggregation);
  * no collect, no per-column scans — profiling 100 TB costs one scan. */
object Profile {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(s"__n_$c"),
      count_distinct(col(c)).as(s"__d_$c"),
      min(col(c)).cast("string").as(s"__mn_$c"),
      max(col(c)).cast("string").as(s"__mx_$c"))
    } :+ count(lit(1)).as("__total")
    val row = df.agg(aggs.head, aggs.tail: _*)
    row.select(explode(array(cols.map { c =>
        struct(lit(c).as("col_name"),
          col(s"__n_$c").as("n_nonnull"),
          (col("__total") - col(s"__n_$c")).as("n_null"),
          col(s"__d_$c").as("n_distinct"),
          col(s"__mn_$c").as("min_str"),
          col(s"__mx_$c").as("max_str"))
      }: _*)).as("p"))
      .select("p.*")
  }

  /** Join-key skew profile — the pre-join audit a 100 TB pipeline runs
    * BEFORE keying a shuffle on a column: the heaviest `topK` keys with
    * their exact counts and integer-ppm share of all rows. A key holding
    * >1–5% of a large table is the salting/AQE-skew-join trigger
    * ([[graft.ops.Ops.saltedJoin]] is the repo's remedy; this op says
    * WHEN to reach for it and for WHICH keys). NULL keys profile as a
    * key like any other (they hash to one partition too — the classic
    * silent skew).
    *
    * Scale shape: one map-side-combined count aggregate (distinct-key-
    * sized) + the salted two-phase top-k ([[graft.ops.Sampling
    * .topKPerStratum]], single stratum) + a one-row total broadcast —
    * no window ever sees more than topK·fanout rows. Output:
    * (key STRING, cnt BIGINT, share_ppm BIGINT, rank INT) ordered by
    * rank. */
  def keySkew(df: DataFrame, keyCol: String, topK: Int = 20): DataFrame = {
    require(topK > 0, "keySkew: topK must be positive")
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("_tot"))
    val top = graft.ops.Sampling.topKPerStratum(
      counts.withColumn("_g", lit(0)), "_g", "key", topK,
      Seq(col("cnt").desc)).drop("_g")
    top.crossJoin(broadcast(total))
      .withColumn("share_ppm",
        floor(col("cnt").cast("decimal(38,0)") * lit(1000000L) / col("_tot"))
          .cast("long"))
      // unpartitioned but topK-BOUNDED: `top` has ≤ topK rows by
      // construction (the salted topKPerStratum already cut the tail)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("key").asc)).cast("int"))
      .select(col("key"), col("cnt"), col("share_ppm"), col("rank"))
  }

  /** Vocabulary-growth curve (the Heaps'-law audit): new distinct terms
    * contributed by each id-ordered ingestion bucket, plus the running
    * total — a corpus-health monitor with teeth: healthy natural-language
    * crawl grows vocabulary ~n^β (β≈0.5); a FLAT new-terms tail means the
    * crawl is re-ingesting what it already has (dedup upstream is
    * failing), a LINEAR tail means unbounded junk tokens (spam,
    * serialized ids, parser breakage) — both visible per bucket before
    * any model is trained on it.
    *
    * A term's bucket is its FIRST occurrence (min doc id — a pure
    * function of the corpus, retry/layout/engine-stable). Scale shape:
    * one token-keyed min aggregate (vocabulary-shaped, map-side
    * combined) + one map-side-combined per-bucket token count. The
    * running total is TWO-LEVEL (the [[Scoring.valueThresholds]]
    * pattern, r21): bucket count is id-range/bucketSize — data-scaled,
    * so a single unpartitioned window over it would funnel every bucket
    * row through ONE task at corpus scale. Coarse groups of 2¹⁶ buckets
    * carry the running total BETWEEN groups (the one unpartitioned
    * window touches ≤ #buckets/2¹⁶ rows — task-sized up to ~10¹⁴ doc
    * ids; nest another level before that ever binds) and the within-
    * group window partitions by the coarse id. Result-invisible: both
    * levels are exact integer sums over the same total order. Output:
    * (bucket, n_tokens, new_terms, cum_terms), one row per non-empty
    * bucket. */
  def vocabularyGrowth(docs: DataFrame, idCol: String, textCol: String,
                       bucketSize: Long): DataFrame = {
    require(bucketSize > 0, "vocabularyGrowth: bucketSize must be positive")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("_id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("_tok"))
      .where(col("_tok") =!= "")
    val perBucket = toks
      .groupBy(expr(s"_id div ${bucketSize}L").as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val newTerms = toks.groupBy(col("_tok")).agg(min(col("_id")).as("_first"))
      .groupBy(expr(s"_first div ${bucketSize}L").as("bucket"))
      .agg(count(lit(1)).as("new_terms"))
    // Pinned: both the coarse running total and the per-bucket output
    // read it, so the corpus tokenize + aggregates run once.
    val joined = Caches.pin(perBucket.join(newTerms, Seq("bucket"), "left")
      .withColumn("new_terms", coalesce(col("new_terms"), lit(0L)))
      .withColumn("_g", expr("bucket div 65536L")))
    val wBefore = Window.orderBy(col("_g"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val coarseCum = joined.groupBy(col("_g"))
      .agg(sum(col("new_terms")).as("_cg"))
      .select(col("_g"),
        coalesce(sum(col("_cg")).over(wBefore), lit(0L)).as("_before"))
    val wIn = Window.partitionBy(col("_g")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined
      .withColumn("_in", sum(col("new_terms")).over(wIn))
      .join(broadcast(coarseCum), Seq("_g"))
      .withColumn("cum_terms", col("_in") + col("_before"))
      .drop("_g", "_in", "_before")
  }

  /** One-row corpus report card — the first page of a dataset card and
    * the tripwire dashboard of an ingestion run: document / token /
    * vocabulary / empty-doc counts and the exact-duplicate rate, all
    * exact integers (dup rate in floored ppm). Duplicates are counted by
    * content hash (n_docs − distinct md5(text)) — the q14 exact-dedup
    * key, so the report agrees with what the dedup stage would drop.
    *
    * Scale shape: one doc-level aggregate (token counts ride each row;
    * the distinct-hash count is Spark's two-phase partial-distinct) plus
    * one distinct-token aggregate (map-side-combined; the shuffle
    * carries the vocabulary, the same bound as every token op), joined
    * as one-row broadcasts. Output: (n_docs, n_tokens, vocab,
    * empty_docs, dup_docs, dup_ppm — all BIGINT). */
  def corpusReport(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val ntok = size(filter(toks, t => t =!= "")).cast("long")
    val d = docs.select(col(idCol),
      md5(col(textCol).cast("binary")).as("_h"), ntok.as("_ntok"))
    val a = d.agg(count(lit(1)).as("n_docs"),
      sum(col("_ntok")).as("n_tokens"),
      sum(when(col("_ntok") === 0, 1L).otherwise(0L)).as("empty_docs"),
      countDistinct(col("_h")).as("_uniq"))
    val v = docs.select(explode(toks).as("_tok")).where(col("_tok") =!= "")
      .agg(countDistinct(col("_tok")).as("vocab"))
    a.crossJoin(broadcast(v))
      .select(col("n_docs"), col("n_tokens"), col("vocab"),
        col("empty_docs"),
        (col("n_docs") - col("_uniq")).as("dup_docs"),
        expr("(n_docs - _uniq) * CAST(1000000 AS BIGINT) div n_docs")
          .as("dup_ppm"))
  }

  /** Benford first-digit audit — the classic fabricated-/synthetic-data
    * tripwire for a numeric measure column: observed first-significant-
    * digit shares vs Benford's log₁₀(1+1/d) expectation. Digit
    * extraction is LOG-FREE (a log10+floor would sit one ulp from a
    * bucket flip at powers of ten, and libm implementations differ): a
    * comparison ladder against exact power-of-ten double literals picks
    * the exponent, one division normalizes the mantissa, a second
    * ladder picks the digit — every comparison is between bit-identical
    * doubles in both engines. Values outside [1, 10^(maxExp+1)) are
    * excluded and counted (`n_excluded` — extend maxExp to widen).
    * Expected shares are compile-time integer-ppm literals; observed
    * shares are floored ppm; all 9 digits always emit (zero-count
    * included). Output: (digit BIGINT 1-9, cnt, obs_ppm, exp_ppm
    * BIGINT) + the total/excluded counts on every row. */
  def benfordAudit(df: DataFrame, valueCol: String,
                   maxExp: Int = 7): DataFrame = {
    require(maxExp >= 0 && maxExp <= 22, "benfordAudit: maxExp in [0,22]")
    val x = abs(col(valueCol).cast("double"))
    val hi = math.pow(10.0, maxExp + 1)
    val inc = col(valueCol).isNotNull && !isnan(x) && x >= 1.0 && x < hi
    var mant: Column = null
    for (e <- maxExp to 1 by -1) {
      val p = lit(math.pow(10.0, e))
      mant = if (mant == null) when(x >= p, x / p)
             else mant.when(x >= p, x / p)
    }
    val m = if (mant == null) x else mant.otherwise(x)
    var dig: Column = null
    for (d <- 9 to 2 by -1) {
      dig = if (dig == null) when(m >= d, d.toLong)
            else dig.when(m >= d, d.toLong)
    }
    val digit = dig.otherwise(1L)
    val counts = df.where(inc)
      .groupBy(digit.as("digit")).agg(count(lit(1)).as("cnt"))
    val totals = df.agg(
      sum(when(inc, 1L).otherwise(0L)).as("n_included"),
      sum(when(inc, 0L).otherwise(1L)).as("n_excluded"))
    val digits = counts.sparkSession.range(1, 10)
      .select(col("id").as("digit"))
    digits.join(counts, Seq("digit"), "left")
      .na.fill(0L, Seq("cnt"))
      .crossJoin(broadcast(totals))
      .select(col("digit"), col("cnt"),
        when(col("n_included") > 0,
          expr("cnt * CAST(1000000 AS BIGINT) div n_included"))
          .otherwise(lit(0L)).as("obs_ppm"),
        element_at(lit(BenfordPpm), col("digit").cast("int")).as("exp_ppm"),
        col("n_included"), col("n_excluded"))
  }

  /** floor(log₁₀(1+1/d)·10⁶ + 0.5) for d = 1..9 — compile-time Benford
    * expectation in integer ppm; oracle SQL embeds the same literals. */
  val BenfordPpm: Array[Long] = (1 to 9).map(d =>
    math.floor(math.log10(1.0 + 1.0 / d) * 1e6 + 0.5).toLong).toArray

  /** Two-proportion A/B z-test — the experiment readout over unit-level
    * rows (one row per unit with its arm and converted flag): per-arm
    * n/conversions, the lift in floored-ppm (exact integers), and the
    * pooled two-proportion z statistic as ONE IEEE chain over the four
    * exact counts, published as floor(z·1000 + 0.5) milli-units (the
    * readability/silhouette floor contract — identical doubles floor
    * identically). Arm A is the smaller arm value (deterministic);
    * `z_milli` is NULL when degenerate (≠ 2 arms, or pooled rate 0/1 —
    * no variance). Scale shape: one map-side-combined per-arm aggregate
    * (2 rows), then driver-sized arithmetic. Output one row: (arm_a,
    * n_a, conv_a, arm_b, n_b, conv_b, n_arms, lift_ppm, z_milli). */
  def abTestProportions(units: DataFrame, armCol: String,
                        convCol: String): DataFrame = {
    val arms = units.groupBy(col(armCol).cast("long").as("arm"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(convCol), 1L).otherwise(0L)).as("c"))
    val one = arms.agg(
      min(struct(col("arm"), col("n"), col("c"))).as("A"),
      max(struct(col("arm"), col("n"), col("c"))).as("B"),
      count(lit(1)).as("n_arms"))
    val na = col("A.n").cast("double"); val nb = col("B.n").cast("double")
    val ca = col("A.c").cast("double"); val cb = col("B.c").cast("double")
    val pp = (ca + cb) / (na + nb)
    val z = (ca / na - cb / nb) /
      sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / na + lit(1.0) / nb))
    one.select(col("A.arm").as("arm_a"), col("A.n").as("n_a"),
      col("A.c").as("conv_a"), col("B.arm").as("arm_b"),
      col("B.n").as("n_b"), col("B.c").as("conv_b"), col("n_arms"),
      (expr("A.c * CAST(1000000 AS BIGINT) div A.n") -
        expr("B.c * CAST(1000000 AS BIGINT) div B.n")).as("lift_ppm"),
      when(col("n_arms") === 2 && pp > 0 && pp < 1,
        floor(z * lit(1000.0) + lit(0.5)).cast("long")).as("z_milli"))
  }

  /** Zipf-slope vocabulary audit — least-squares fit of ln(freq) against
    * ln(rank) over the `topV` most frequent tokens (natural text sits
    * near slope −1; strong deviation flags templated/synthetic/spammy
    * corpora — the standing distribution audit next to
    * [[vocabularyGrowth]]'s Heaps-law curve). Fitting the HEAD is the
    * standard practice (the tail bends away from the power law) and is
    * also what makes the op scale: the full vocabulary is never ranked.
    *
    * Determinism: x = round(ln rank, 6), y = round(ln freq, 6) enter as
    * exact integer MICRO-UNITS (xᵤ = x·10⁶), so all five regression sums
    * are exact integers (products of two micro-values are exact
    * pico-units) and every published statistic is one signed integral
    * division (`div` ≡ DuckDB `//`, sign split so trunc ≡ floor on
    * non-negative operands — a rounded double ratio is the q171
    * divergence class):
    * {{{
    *   num = n·Σxᵤyᵤ − Σxᵤ·Σyᵤ,  den = n·Σxᵤ² − (Σxᵤ)²,
    *   deny = n·Σyᵤ² − (Σyᵤ)²
    *   slope_ppm     = sign(num)·((|num|·10⁶) div den)
    *   intercept_ppm = sign(i)·(|i| div (n·10⁶)),
    *                   i = Σyᵤ·10⁶ − slope_ppm·Σxᵤ
    *   r2_ppm        = (slope_ppm·num) div deny   (≥ 0: signs match)
    * }}}
    * (intercept/r² consume the QUANTIZED slope — the published
    * definition, identical on both engines; r² ≤ 10⁶ by Cauchy–Schwarz
    * so no intermediate exceeds DECIMAL(38).) Scale shape: one map-side-
    * combined token count, then the salted two-phase bottom-k ranking
    * (no task sorts the whole vocabulary; the final window ranks ≤
    * topV·fanout survivors), then a one-row aggregate. Output one row:
    * (n BIGINT, slope_ppm, intercept_ppm, r2_ppm — all BIGINT);
    * slope/r² NULL when degenerate (n < 2 / zero variance). */
  def zipfSlope(docs: DataFrame, textCol: String,
                topV: Int = 1024, fanout: Int = 64): DataFrame = {
    require(topV > 1, "zipfSlope: topV must be > 1")
    // Σ|x| ≤ 65536·ln(65536) ≈ 7.3e5 and Σ|y| ≤ 65536·ln(2⁶³) ≈ 2.9e6 —
    // both inside the DECIMAL(18,6) cross-term operands (10^12 integer
    // headroom), so every regression sum is overflow-free at any BIGINT
    // frequency. The bound keeps the window tier's ranked head small.
    require(topV <= 65536, "zipfSlope: topV must be <= 65536")
    require(fanout > 0, "zipfSlope: fanout must be positive")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(
        explode(split(lower(trim(col(textCol))), "\\s+")).as("_tok"))
      .where(col("_tok") =!= "")
    val freq = toks.groupBy(col("_tok")).agg(count(lit(1)).as("_f"))
    val local = Window
      .partitionBy(pmod(xxhash64(col("_tok")), lit(fanout)))
      .orderBy(col("_f").desc, col("_tok").asc)
    // unpartitioned but topV-BOUNDED: the salted local filter admits
    // ≤ topV·fanout rows to the single global ranking task
    val global = Window.orderBy(col("_f").desc, col("_tok").asc)
    val top = freq.withColumn("_lrk", row_number().over(local))
      .where(col("_lrk") <= topV)
      .withColumn("rank", row_number().over(global))
      .where(col("rank") <= topV)
    val d38 = "decimal(38,0)"
    // micro-unit points: xᵤ ≤ ln(65536)·10⁶ ≈ 1.2e7, yᵤ ≤ ln(2⁶³)·10⁶ ≈
    // 4.4e7 — pico-unit products ≤ 5e14 per term, sums ≤ 3.3e19 over
    // 65536 terms, n·Σ ≤ 2.2e24: everything sits far inside DECIMAL(38).
    val pts = top.select(
      floor(Round6.guarded(log(col("rank").cast("double")), "zipfSlope x")
        * lit(1e6) + lit(0.5)).cast("long").as("_xu"),
      floor(Round6.guarded(log(col("_f").cast("double")), "zipfSlope y")
        * lit(1e6) + lit(0.5)).cast("long").as("_yu"))
    val a = pts.agg(
      count(lit(1)).as("n"),
      sum(col("_xu").cast(d38)).as("_sx"),
      sum(col("_yu").cast(d38)).as("_sy"),
      sum((col("_xu").cast(d38) * col("_yu")).cast(d38)).as("_sxy"),
      sum((col("_xu").cast(d38) * col("_xu")).cast(d38)).as("_sxx"),
      sum((col("_yu").cast(d38) * col("_yu")).cast(d38)).as("_syy"))
    a
      .withColumn("_num", expr(
        "cast(n as decimal(38,0)) * _sxy - _sx * _sy"))
      .withColumn("_den", expr(
        "cast(n as decimal(38,0)) * _sxx - _sx * _sx"))
      .withColumn("_deny", expr(
        "cast(n as decimal(38,0)) * _syy - _sy * _sy"))
      .withColumn("slope_ppm", when(col("_den") =!= 0, expr(
        """(case when _num < 0 then -1L else 1L end) *
          |  ((abs(_num) * 1000000) div _den)""".stripMargin)))
      .withColumn("_inum", expr(
        "_sy * 1000000 - cast(slope_ppm as decimal(38,0)) * _sx"))
      .select(col("n").cast("long").as("n"),
        col("slope_ppm"),
        when(col("_den") =!= 0, expr(
          """(case when _inum < 0 then -1L else 1L end) *
            |  (abs(_inum) div (cast(n as decimal(38,0)) * 1000000))"""
            .stripMargin)).as("intercept_ppm"),
        when(col("_den") =!= 0 && col("_deny") =!= 0, expr(
          "(cast(slope_ppm as decimal(38,0)) * _num) div _deny"))
          .as("r2_ppm"))
  }

  /** Pearson χ² test of independence between two categorical columns —
    * the standing composition audit (is `lang` independent of `source`?
    * did the crawl's topic mix shift by host?): over the FULL R×C grid
    * (zero-observed cells included — they carry the signal when a
    * combination that should occur never does),
    * χ² = Σ (o − e)²/e with e = row_total·col_total/n.
    *
    * Determinism: every expected count and term is one IEEE rational
    * chain (no transcendentals — nothing for [[Round6]] to guard), so
    * both engines hold the IDENTICAL double per term; each term then
    * quantizes by floor(term·10⁶ + 0.5) — floor operates on the shared
    * BINARY value on every engine (unlike round(·, 6), whose
    * engine-specific decimal-repr path is the q171 divergence class
    * even on identical doubles) — and the exact integer micro-units sum
    * order-free as BIGINT. The p-value lookup is deliberately NOT
    * computed (the regularized Γ is a cross-libm swamp); publish
    * (chi2_ppm, dof) and let the caller compare against a literal
    * critical-value table in micro-units.
    *
    * Scale shape: one map-side-combined contingency groupBy (the only
    * corpus-scan shuffle), then marginals/grid over contingency-sized
    * frames. The grid is R×C rows — categorical-audit cardinalities by
    * contract (a high-cardinality column belongs in [[keySkew]]-style
    * audits, not a χ² grid). NULL categories are dropped up front —
    * callers who want NULL as a category coalesce to a sentinel first
    * (see the body comment). Output one row: (n BIGINT, dof BIGINT,
    * chi2_ppm BIGINT). */
  def chiSquareIndependence(df: DataFrame, aCol: String,
                            bCol: String): DataFrame = {
    // NULL categories are dropped up front (documented): a NULL key
    // would be counted in the contingency/marginals and n but excluded
    // from countDistinct's dof and never matched by the grid's
    // equi-join — its observed mass silently treated as 0 while its
    // expected mass still inflates χ² (round-16 advisory). A caller who
    // wants NULL as a category coalesces to a sentinel first.
    val cont = df
      .where(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("_a"), col(bCol).as("_b"))
      .agg(count(lit(1)).as("_o"))
    val ra = cont.groupBy(col("_a")).agg(sum(col("_o")).as("_ra"))
    val cb = cont.groupBy(col("_b")).agg(sum(col("_o")).as("_cb"))
    val nn = cont.agg(sum(col("_o")).as("_n"),
      countDistinct(col("_a")).as("_r"), countDistinct(col("_b")).as("_c"))
    val e = col("_ra").cast("double") * col("_cb").cast("double") /
      col("_n").cast("double")
    val o = coalesce(col("_o"), lit(0L)).cast("double")
    val grid = broadcast(ra).crossJoin(broadcast(cb))
      .join(cont, Seq("_a", "_b"), "left")
      .crossJoin(broadcast(nn))
    grid.agg(
        max(col("_n")).as("_nt"), max(col("_r")).as("_rt"),
        max(col("_c")).as("_ct"),
        sum(floor((o - e) * (o - e) / e * lit(1e6) + lit(0.5))
          .cast("long")).as("chi2_ppm"))
      .select(col("_nt").cast("long").as("n"),
        ((col("_rt") - 1) * (col("_ct") - 1)).cast("long").as("dof"),
        col("chi2_ppm"))
  }

  /** Gini concentration index of a keyed mass distribution — the
    * one-number inequality audit for corpus composition (how
    * concentrated are tokens across sources / docs across domains?
    * G ≈ 0 balanced, → 1 a few keys own everything): with masses
    * x₁ ≤ … ≤ xₙ (ties broken by key — the ranking is a pure function
    * of the data), G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ).
    *
    * Integer-exact: the ranking is [[graft.ops.Ops.globalRowNumber]]'s
    * range exchange (no single-task sort), both sums accumulate as
    * DECIMAL(38,0), and the published ppm is ONE integral division of
    * exact decimals (`div` truncates toward zero, matching DuckDB `//`;
    * the numerator is non-negative by the sorted-rank construction, so
    * trunc ≡ floor). Output one row: (n BIGINT, total BIGINT,
    * gini_ppm BIGINT; NULL when total = 0). */
  def giniConcentration(df: DataFrame, keyCol: String,
                        massCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val m = df.groupBy(col(keyCol).as("_k"))
      .agg(sum(col(massCol).cast("long")).as("_x"))
    val ranked = graft.ops.Ops.globalRowNumber(m,
      Seq(col("_x").asc, col("_k").asc), "_i")
    ranked
      .agg(count(lit(1)).as("_nk"), sum(col("_x")).as("_t"),
        sum((col("_i").cast("decimal(19,0)") *
          col("_x").cast("decimal(19,0)")).cast(dec)).as("_s1"))
      .select(col("_nk").cast("long").as("n"),
        col("_t").cast("long").as("total"),
        when(col("_t") > 0, expr(
          """((2 * cast(_s1 as decimal(38,0))
            |  - (cast(_nk as decimal(38,0)) + 1) * cast(_t as decimal(38,0)))
            |  * 1000000) div (cast(_nk as decimal(38,0))
            |  * cast(_t as decimal(38,0)))""".stripMargin))
          .as("gini_ppm"))
  }
}
