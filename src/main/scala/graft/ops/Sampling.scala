package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for corpus rebalancing (per-language quotas,
  * quality-tier downsampling — the standard knobs of a training-data mix).
  *
  * Selection hashes the row's ID instead of drawing `rand()`: the sample is
  * a map-only filter that is reproducible across runs, task retries,
  * repartitioning, AND engines (the hash is md5-based so an external SQL
  * checker replays it bit-for-bit) — `rand()`-based sampling silently
  * re-deals rows under retry, which at 100 TB means a job restart changes
  * the training set. */
object Sampling {

  /** Uniform hash of `id` into [0, 1e6) parts-per-million — md5-based so
    * both engines agree (see Dedup.md5Hash60). */
  def hashPpm(id: Column): Column =
    pmod(Dedup.md5Hash60(id.cast("string")), lit(1000000L))

  /** Keep each row of stratum s with probability rates(s) (strata absent
    * from the map are kept whole). Rates are applied as integer ppm
    * thresholds — no float comparison at the boundary. */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
                       rates: Map[String, Double]): DataFrame = {
    val thr = rates.foldLeft(lit(1000000L)) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, lit(math.round(v * 1e6))).otherwise(acc)
    }
    df.where(hashPpm(col(idCol)) < thr)
  }

  /** EXACTLY k rows per stratum (fewer when the stratum is smaller) — the
    * eval-set / few-shot-pool construction shape, where proportional
    * sampling's per-stratum count varies run-to-run input-to-input. The
    * winners are the k smallest (md5-ppm(id), id) pairs per stratum: a
    * deterministic, engine-replayable total order, so the sample is stable
    * across runs, retries, AND an external SQL checker — `rand()` or
    * `limit` per group is neither.
    *
    * Two-phase top-k (the same trick as the heavy-hitters query): a naive
    * per-stratum window is ONE task per stratum — a 10⁹-row stratum sorts
    * on one core. Phase 1 ranks within (stratum, salt-of-id) — `fanout`
    * bounded partitions per stratum — and keeps k per salt; phase 2 ranks
    * the ≤ k·fanout survivors per stratum. Both phases drop all but a
    * k-bounded sliver before any single-task work happens, and the salt is
    * a pure function of the id (retry/layout-stable). Output is identical
    * to the naive rank for any fanout. */
  /** Mixture resampling with REAL-VALUED per-stratum weights — the data-
    * mixing step of a pretraining recipe ("2.5 epochs of wiki, 0.3 of
    * crawl"): weight w replicates each row floor(w) times plus one more
    * with probability frac(w), so a stratum's expected token share scales
    * by exactly w. Downsampling (w < 1) and upsampling (w > 1) in one op;
    * strata absent from the map keep weight 1.0. Adds `copy_id` (0-based
    * replica index) so downstream dedup/shuffling can tell replicas apart.
    *
    * Determinism: the fractional replica is an md5-ppm(id) threshold test
    * (same contract as [[stratifiedSample]] — retry/layout/engine-stable),
    * and the floor/ppm split is computed DRIVER-SIDE in exact integer
    * arithmetic, so no runtime float comparison exists anywhere. Scale
    * shape: a map-only explode of `sequence(0, n-1)` — no shuffle; rows
    * with n = 0 are filtered before the explode. */
  def mixtureResample(df: DataFrame, stratumCol: String, idCol: String,
                      weights: Map[String, Double]): DataFrame = {
    require(weights.values.forall(_ >= 0), "weights must be >= 0")
    val split = weights.map { case (k, v) =>
      (k, math.floor(v).toLong, math.round((v - math.floor(v)) * 1e6))
    }
    val floorExpr = split.foldLeft(lit(1L)) { case (acc, (k, f, _)) =>
      when(col(stratumCol) === k, lit(f)).otherwise(acc)
    }
    val ppmExpr = split.foldLeft(lit(0L)) { case (acc, (k, _, p)) =>
      when(col(stratumCol) === k, lit(p)).otherwise(acc)
    }
    val n = floorExpr +
      when(hashPpm(col(idCol)) < ppmExpr, lit(1L)).otherwise(lit(0L))
    df.withColumn("_n", n)
      .where(col("_n") > 0)
      .withColumn("copy_id", explode(sequence(lit(0L), col("_n") - 1)))
      .drop("_n")
  }

  def exactKPerStratum(df: DataFrame, stratumCol: String, idCol: String,
                       k: Int, fanout: Int = 64): DataFrame =
    topKPerStratum(df, stratumCol, idCol, k, Seq(hashPpm(col(idCol))), fanout)

  /** Deterministic quality quota: the top k rows per stratum under an
    * explicit total order — "cap every domain at its BEST k documents",
    * the anti-domination guard for crawl-heavy corpora (one domain can be
    * half the crawl; [[exactKPerStratum]] keeps a hash-random k, this
    * keeps the best k by the caller's score). `idCol` ascending is
    * appended as the deterministic tiebreak, so `ord` need not be total.
    *
    * Scale shape: the naive form is one `row_number` window per stratum —
    * a mega-stratum sorts in a single task. Instead a salted local top-k
    * (stratum × fanout sub-windows, each bounded to k survivors) runs
    * first, so the per-stratum window sees at most k·fanout rows per
    * stratum regardless of stratum size; both windows are one shuffle
    * each and the final rank is exact because a global top-k row is
    * necessarily a top-k row of its salt bucket. */
  def topKPerStratum(df: DataFrame, stratumCol: String, idCol: String,
                     k: Int, ord: Seq[Column], fanout: Int = 64): DataFrame = {
    require(k > 0, "k must be positive")
    require(fanout > 0, "fanout must be positive")
    import org.apache.spark.sql.expressions.Window
    val fullOrd = ord :+ col(idCol).asc
    val local = Window
      .partitionBy(col(stratumCol), pmod(xxhash64(col(idCol)), lit(fanout)))
      .orderBy(fullOrd: _*)
    val global = Window.partitionBy(col(stratumCol)).orderBy(fullOrd: _*)
    df.withColumn("_lrk", row_number().over(local))
      .where(col("_lrk") <= k)
      .withColumn("_rk", row_number().over(global))
      .where(col("_rk") <= k)
      .drop("_lrk", "_rk")
  }

  /** Diversity-capped global top-k: the best `k` rows overall under
    * `ord`, subject to AT MOST `perStratum` rows from any one stratum —
    * the standard diversity guard on score-ranked selection (pure top-k
    * from a quality score concentrates on one domain/cluster/source; the
    * per-stratum cap forces coverage, which is also how SemDeDup-style
    * curation caps each semantic cluster's contribution). Selection is
    * greedy-by-rank and deterministic: a stratum's rows enter in
    * (ord, id) order, rows past the cap are ineligible, and the global
    * k best ELIGIBLE rows win — ties broken by `idCol` ascending.
    *
    * Scale shape: phase 1 is [[topKPerStratum]]'s salted per-stratum cap
    * (no task sorts a mega-stratum); phase 2 ranks the ≤ perStratum
    * survivors per stratum globally — salted sub-windows again, then one
    * final window over ≤ k·fanout rows (provably bounded, the
    * [[graft.ops.Scoring.thresholdSweep]] contract for an unpartitioned
    * window). Output: input columns + `stratum_rank` (1..perStratum
    * within the stratum) + `rank` (1..k global). */
  def diverseTopK(df: DataFrame, stratumCol: String, idCol: String,
                  k: Int, perStratum: Int, ord: Seq[Column],
                  fanout: Int = 64): DataFrame = {
    require(k > 0, "k must be positive")
    require(perStratum > 0, "perStratum must be positive")
    require(fanout > 0, "fanout must be positive")
    import org.apache.spark.sql.expressions.Window
    val fullOrd = ord :+ col(idCol).asc
    val salt = pmod(xxhash64(col(idCol)), lit(fanout))
    val localS = Window.partitionBy(col(stratumCol), salt).orderBy(fullOrd: _*)
    val globalS = Window.partitionBy(col(stratumCol)).orderBy(fullOrd: _*)
    val capped = df
      .withColumn("_lrk", row_number().over(localS))
      .where(col("_lrk") <= perStratum)
      .withColumn("_srk", row_number().over(globalS))
      .where(col("_srk") <= perStratum)
    val localG = Window.partitionBy(salt).orderBy(fullOrd: _*)
    // Unpartitioned but k-BOUNDED: the salted localG filter admits ≤
    // k·fanout rows, so the single global task ranks a constant-size set
    // regardless of corpus size (the boundedTopK contract).
    val globalG = Window.orderBy(fullOrd: _*)
    capped
      .withColumn("_grk", row_number().over(localG))
      .where(col("_grk") <= k)
      .withColumn("_rk", row_number().over(globalG))
      .where(col("_rk") <= k)
      .withColumn("stratum_rank", col("_srk").cast("int"))
      .withColumn("rank", col("_rk").cast("int"))
      .drop("_lrk", "_srk", "_grk", "_rk")
  }

  /** Leakage-safe train/val/test split: every member of a near-dup
    * cluster lands in the SAME split — the eval-leakage guard that
    * per-doc hash splitting misses (a near-duplicate of a training doc
    * in the held-out set inflates every metric it touches; splits must
    * be disjoint at the CLUSTER level, not the doc level). `fractions`
    * are (label, weight) in declaration order, normalized driver-side to
    * integer ppm bands; the band test is md5-ppm of the cluster id, so
    * the assignment is a pure function of the pair graph —
    * retry/layout/engine-replayable, and a doc added to an existing
    * cluster later always inherits the cluster's split. Output: the doc
    * rows + `cluster_id`, `keep` (cluster representative), `split`.
    *
    * Scale shape: [[Dedup.dedupAssign]] (O(log² n) star-contraction
    * rounds) plus one stateless band projection — no shuffle beyond the
    * CC itself. */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                       fractions: Seq[(String, Double)],
                       checkpointDir: Option[String] = None): DataFrame = {
    require(fractions.nonEmpty, "fractions must be non-empty")
    require(fractions.forall(_._2 > 0), "fraction weights must be > 0")
    require(fractions.map(_._1).distinct.size == fractions.size,
      "split labels must be distinct")
    val total = fractions.map(_._2).sum
    val ubs = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => math.round(c / total * 1e6))
    val ppm = hashPpm(col("cluster_id"))
    val expr = fractions.map(_._1).zip(ubs).init
      .foldRight(lit(fractions.last._1): Column) {
        case ((label, ub), acc) => when(ppm < ub, label).otherwise(acc)
      }
    Dedup.dedupAssign(docs, idCol, pairs, checkpointDir = checkpointDir)
      .withColumn("split", expr)
  }

  /** Priority sampling (Duffield, Lund & Thorup, "Priority sampling for
    * estimation of arbitrary subset sums", JACM 2007): a weight-sensitive
    * sample WITHOUT replacement of k rows, plus the threshold estimator
    * ŵ = max(w, τ) that makes any subset-sum estimate over the sample
    * unbiased. Each row draws priority q = w/u with u uniform in (0,1];
    * the sample is the k largest priorities and τ is the (k+1)-th.
    *
    * Determinism: u is the md5-ppm hash of the id ((hash+1)/1e6, never 0),
    * and the priority is the exact integer floor of w/u — q = (w·1e6) div
    * u_ppm — so ordering, selection and the estimator are pure integer
    * functions of (id, w): retry/layout/engine-replayable, no IEEE
    * division anywhere. (Flooring q and τ to integers biases ŵ by < 1
    * weight unit per sampled row — negligible against the estimator's
    * own variance — and is what makes exact replay possible.) Requires
    * non-negative integer weights with w ≤ ~9.2e12 (w·1e6 must fit a
    * long) — token/char counts, byte sizes and click counts all qualify.
    *
    * Scale shape: the k+1 survivors are found with the same salted
    * two-phase top-k as [[topKPerStratum]] (per-salt window bounded to
    * k+1, then a (k+1)·fanout-row global window), and τ/ŵ are window
    * functions over the ≤ k+1 retained rows — no second pass over the
    * corpus, no driver round-trip. Output: input columns + `priority`,
    * `w_hat` (both in the weight's own units). */
  def prioritySample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, fanout: Int = 64): DataFrame = {
    require(k > 0, "k must be positive")
    require(fanout > 0, "fanout must be positive")
    import org.apache.spark.sql.expressions.Window
    val k1 = k + 1
    val base = df
      .withColumn("_wu", col(weightCol).cast("long") * lit(1000000L))
      .withColumn("_u", hashPpm(col(idCol)) + lit(1L))
      .withColumn("_pri", expr("_wu div _u"))
    val ord = Seq(col("_pri").desc, col(idCol).asc)
    val local = Window
      .partitionBy(pmod(xxhash64(col(idCol)), lit(fanout)))
      .orderBy(ord: _*)
    val global = Window.partitionBy(lit(0)).orderBy(ord: _*)
    // Bounded windows over the k+1 retained rows: count decides whether a
    // (k+1)-th priority exists (τ = 0 when the corpus is smaller than the
    // sample), min IS that (k+1)-th priority because the set is exactly
    // the top k+1 under the same total order.
    val all = Window.partitionBy(lit(0))
    base
      .withColumn("_lrk", row_number().over(local))
      .where(col("_lrk") <= k1)
      .withColumn("_rk", row_number().over(global))
      .where(col("_rk") <= k1)
      .withColumn("_tau",
        when(count(lit(1)).over(all) === k1, min(col("_pri")).over(all))
          .otherwise(lit(0L)))
      .where(col("_rk") <= k)
      .withColumn("priority", col("_pri"))
      .withColumn("w_hat",
        greatest(col(weightCol).cast("long"), col("_tau")))
      .drop("_wu", "_u", "_pri", "_lrk", "_rk", "_tau")
  }

  /** Temperature-flattened stratum sampling — the multilingual rebalance
    * of XLM-R (Conneau et al. 2020, "Unsupervised cross-lingual
    * representation learning at scale"): the kept corpus follows
    * q_s ∝ n_s^alpha, so alpha < 1 upweights tail languages/domains
    * relative to their natural share. `targetFraction` F sets the overall
    * kept share: stratum s keeps rate_s = min(1, F·N·q_s / n_s).
    *
    * Everything derives IN-PLAN from the stratum counts (one agg + one
    * broadcast join + a map-side ppm filter — no driver-supplied rate
    * map, so the op composes into a pipeline that doesn't know its
    * strata up front). Rates are snapped to integer ppm and selection is
    * the md5-ppm threshold test ([[stratifiedSample]] contract).
    *
    * Determinism: at the default alpha = 0.5, n^alpha is IEEE `sqrt` —
    * correctly rounded, so the whole rate computation (integer-ppm-rounded
    * sqrt, exact long sums, fixed-shape double arithmetic) is bit-identical
    * across engines and the sample is exactly replayable. Other alphas use
    * `pow` (≤ 1 ulp, not exactly rounded): still retry/layout-stable
    * within Spark, with a theoretical ±1-row boundary risk vs an external
    * checker. Output: kept rows + `rate_ppm`. */
  def temperatureSample(df: DataFrame, stratumCol: String, idCol: String,
                        targetFraction: Double,
                        alpha: Double = 0.5): DataFrame = {
    require(targetFraction >= 0.0 && targetFraction <= 1.0,
      "targetFraction must be in [0, 1]")
    require(alpha > 0.0, "alpha must be > 0")
    val counts = df.groupBy(col(stratumCol).as("_s"))
      .agg(count(lit(1)).as("_n"))
    val nAlpha = if (alpha == 0.5) sqrt(col("_n")) else pow(col("_n"), alpha)
    // Integer-ppm snap BEFORE the sum: long sums are order-independent
    // where double sums are not — the Z normalizer must not depend on
    // stratum visit order (or on which engine sums it). The normalizer is
    // an unpartitioned window over the COUNTS table (stratum-cardinality
    // rows, never the corpus) so the corpus is scanned exactly once for
    // the counts — an agg + join-back would re-run the count aggregate.
    val t = counts.withColumn("_sppm",
      round(nAlpha * lit(1000000.0)).cast("long"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
    val rates = t
      .withColumn("_z", sum("_sppm").over(all))
      .withColumn("_tot", sum("_n").over(all))
      .withColumn("rate_ppm", expr(
        s"least(1000000L, cast(round((($targetFraction * " +
          "cast(_tot as double)) * (cast(_sppm as double) / " +
          "cast(_z as double)) / cast(_n as double)) * 1000000) as long))"))
      .select(col("_s"), col("rate_ppm"))
    df.join(broadcast(rates), col(stratumCol) === col("_s"))
      .where(hashPpm(col(idCol)) < col("rate_ppm"))
      .drop("_s")
  }

  /** Keep the best `fraction` of the corpus by score — EXACTLY the top
    * ⌈fraction·N⌉ rows under (score desc, id asc), with the global `rank`
    * attached (1-based; a downstream stage can re-cut a tighter budget
    * without re-ranking). The fraction is snapped to integer ppm and the
    * cutoff computed in integer arithmetic — `ceil(0.1 · 500)` in IEEE
    * doubles is 51, not 50, so a float threshold silently disagrees with
    * any exact-decimal checker at exact-multiple boundaries.
    *
    * Scale shape: this is the fraction-of-corpus selection
    * [[topKPerStratum]] must NOT be used for — its single-stratum global
    * rank window sorts all k survivors in one task, and k = p·N grows
    * with the corpus. Here ranking is [[Ops.globalRowNumber]] (ONE pinned
    * range exchange, per-partition ordinals + broadcast offsets, never a
    * single-task sort), N is derived in-plan from the same persisted
    * ranked frame (max rank — #partitions-row agg, no driver count
    * pre-pass), and the cutoff joins back as a broadcast one-row frame. */
  def keepTopFraction(df: DataFrame, idCol: String, scoreCol: String,
                      fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0,
      "fraction must be in [0, 1]")
    val ppm = math.round(fraction * 1e6)
    val ranked = Ops.globalRowNumber(df,
      Seq(col(scoreCol).desc, col(idCol).asc), "rank")
    val cut = ranked.agg(
      expr(s"(max(rank) * ${ppm}L + 999999L) div 1000000L").as("_cut"))
    ranked.crossJoin(broadcast(cut))
      .where(col("rank") <= col("_cut"))
      .drop("_cut")
  }

  /** Data-mixture epoch plan — the per-source allocation table every
    * large pretraining run publishes (LLaMA tbl. 1 / GPT-3 tbl. 2.2
    * shape: CommonCrawl 0.67 epochs, Wikipedia 2.4, ...): given per-row
    * token counts, a target mixture weight per source (ppm), a total
    * token budget and an epoch cap, emit one audit row per source with
    * the budget-implied target, the cap-clipped planned tokens, the
    * implied epoch count and the shortfall the run must re-weight or
    * accept. Single-pass cap (no water-fill redistribution) — the
    * shortfall column IS the redistribution input, and keeping the pass
    * closed-form keeps it engine-replayable.
    *
    * Integer-ppm exact, the [[stratifiedSample]] convention: every
    * derived quantity is a floor of a decimal(38)·ppm product — no
    * doubles, so a 10¹⁴-token budget times a 10⁶ ppm weight can never
    * overflow or round differently across engines (DuckDB replays with
    * HUGEINT `//`).
    *
    * Scale shape: ONE map-side-combined groupBy on source (the aggregate
    * is source-cardinality-sized) + a FULL OUTER join with the weight
    * table — both sides are source-cardinality-sized by then, so the
    * join is trivially cheap, and the outer form is the audit contract:
    * a corpus source MISSING from the weight table still gets its row
    * (weight/target/planned 0 — visible, not silently dropped), and a
    * weight row with NO corpus rows reports available 0, planned 0,
    * shortfall = its full target (the strongest possible re-weight
    * signal). An inner join would under-report exactly the two cases an
    * allocation audit exists to catch.
    *
    * Output: (sourceCol, available_tokens, weight_ppm, target_tokens,
    * planned_tokens, epochs_ppm, shortfall_tokens), all BIGINT. */
  def epochPlan(df: DataFrame, sourceCol: String, tokensCol: String,
                weights: DataFrame, budget: Long,
                maxEpochsPpm: Long = 1000000L): DataFrame = {
    require(budget > 0, "epochPlan: budget must be positive")
    require(maxEpochsPpm > 0, "epochPlan: maxEpochsPpm must be positive")
    val avail = df.groupBy(col(sourceCol))
      .agg(sum(col(tokensCol).cast("long")).as("available_tokens"))
    val w = weights.select(col(sourceCol),
      col("weight_ppm").cast("long").as("weight_ppm"))
    val dec = "decimal(38,0)"
    val target = floor(lit(budget).cast(dec) * col("weight_ppm")
      / lit(1000000L)).cast("long")
    val cap = floor(col("available_tokens").cast(dec) * lit(maxEpochsPpm)
      / lit(1000000L)).cast("long")
    val base = avail.join(w, Seq(sourceCol), "full_outer")
      .select(col(sourceCol),
        coalesce(col("available_tokens"), lit(0L)).as("available_tokens"),
        coalesce(col("weight_ppm"), lit(0L)).as("weight_ppm"))
      .select(col(sourceCol), col("available_tokens"), col("weight_ppm"),
        target.as("target_tokens"), cap.as("_cap"))
    val planned = least(col("target_tokens"), col("_cap"))
    val epochs = when(col("available_tokens") === 0L, lit(0L))
      .otherwise(floor(planned.cast(dec) * lit(1000000L)
        / col("available_tokens")).cast("long"))
    base.select(col(sourceCol), col("available_tokens"), col("weight_ppm"),
      col("target_tokens"), planned.as("planned_tokens"),
      epochs.as("epochs_ppm"),
      (col("target_tokens") - planned).as("shortfall_tokens"))
  }

  /** Temperature-softmax mixture weights over per-domain scores — the
    * score→weight step of loss-aware data mixing (the DoReMi family, Xie
    * et al. 2023 arXiv:2305.10429: domains with higher excess loss get
    * exponentially more weight; τ controls how aggressive): weight_i ∝
    * exp(score_i/τ), published as integer ppm so downstream samplers
    * ([[mixtureResample]], [[epochPlan]] — both take ppm weight tables)
    * consume them without float noise.
    *
    * Determinism: the softmax is computed MAX-SHIFTED — weight_i ∝
    * exp((score_i − max score)/τ), mathematically identical
    * (shift-invariance) and the standard numerically-stable form — so
    * every exp output lies in (0, 1], where [[Round6.guarded]]'s
    * absolute 1e-12 margin regime holds and the 6-dp round is PROVEN
    * per row (round 16's advisory: unshifted exp reaches 1e8+, where
    * the relative cross-libm margin covers the whole 6-dp quantum and
    * no round of a libm output can be certified at all). The exp
    * argument is one IEEE subtract + divide of the shared score doubles
    * — bit-identical across engines without any inner rounding (an
    * inner round of score/τ would itself be a rational-ratio round, the
    * q171 class). The rounded exp re-enters as exact integer micro-units
    * (floor(b·10⁶ + 0.5) — near-integer by construction, boundary-free),
    * the denominator is an exact integer sum, and weight_ppm =
    * (bᵤ·10⁶) div Σbᵤ — one integral division (`div` ≡ DuckDB `//`,
    * trunc ≡ floor on non-negative operands).
    *
    * `stats`: one row per domain (keyCol, scoreCol). Scale shape: the
    * input is domain-cardinality-sized; one max + one total (one-row
    * aggregates, broadcast back) around a map pass. Output: (keyCol,
    * scoreCol, boltzmann_6 — the SHIFTED exp at 6 dp, max row = 1.0 —
    * weight_ppm) — weights sum to ≤ 1e6 (trunc bias ≤ 1 ppm/domain). */
  def mixtureWeights(stats: DataFrame, keyCol: String, scoreCol: String,
                     tau: Double = 1.0): DataFrame = {
    require(tau > 0, "mixtureWeights: tau must be positive")
    val m = stats.agg(max(col(scoreCol)).as("_mx"))
    // exp is the same cross-libm hazard class as ln — route through the
    // per-row portability guard (see [[graft.ops.Round6]])
    val e6 = Round6.guarded(
      exp((col(scoreCol) - col("_mx")) / lit(tau)), "mixtureWeights exp")
    val scored = stats.crossJoin(broadcast(m))
      .select(col(keyCol), col(scoreCol), e6.as("_e"))
      .withColumn("_eu",
        floor(col("_e") * lit(1000000.0) + lit(0.5)).cast("long"))
    val tot = scored.agg(sum(col("_eu")).as("_tot"))
    scored.crossJoin(broadcast(tot))
      .select(col(keyCol), col(scoreCol), col("_e").as("boltzmann_6"),
        expr("_eu * cast(1000000 as bigint) div _tot").as("weight_ppm"))
  }
}
