package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based corpus scoring — the quality-filter tier of a training-data
  * pipeline, between the surface heuristics ([[graft.functions.TextFunctions]]
  * quality ratios) and the dedup graph: an in-corpus bigram-LM
  * cross-entropy (the CCNet-style "perplexity proxy" that ranks docs by
  * how surprising they are under the corpus's own statistics), hashed
  * bag-of-tokens linear-classifier inference (the fastText-style quality
  * gate — a trained weight vector applied at corpus scale), and DSIR
  * importance weights (hashed-feature log-likelihood ratio against a
  * target domain, the data-selection score of Xie et al.).
  *
  * Determinism contract shared by all three (and with the rest of the
  * library): no `rand()`, no float aggregation. Every per-row log term is
  * rounded to 6 dp (ln differs across libms in the last ulps), quantized
  * to DECIMAL(18,6), and summed AS DECIMAL — float addition is not
  * associative, so a double sum over different partition orders drifts;
  * the decimal sum is exact, hence identical across runs, layouts, AND
  * engines. The classifier goes further: weights are quantized to integer
  * micro-units so its aggregate is pure integer arithmetic. Token hashing
  * is [[Dedup.md5Hash60]] (engine-replayable), not xxhash64.
  *
  * Scale shape shared by all three: compact text is repartitioned by doc
  * id BEFORE tokenizing (the [[Text.tfIdf]] rationale — the per-doc
  * aggregate then runs in place and tokenize/hash CPU spreads over the
  * cluster), tokens are exploded with `explode_outer` so token-less docs
  * stay in the SAME stream (no second corpus scan + join-back just to
  * keep them), and model tables that are bounded by construction (the
  * classifier weight vector, the DSIR ratio table — both `buckets`-sized)
  * are explicitly broadcast. The bigram-LM count tables are NOT hinted:
  * they are vocabulary-shaped, which AQE broadcasts at moderate scale but
  * which legitimately grows corpus-like for web-scale text — there the
  * join degrades gracefully to a shuffle of the compact aggregated
  * (doc, bigram, tf) frame, never of raw text.
  */
object Scoring {

  /** Quantize a 6-dp-rounded double so the downstream sum is exact. */
  private def dec6(c: Column): Column = c.cast("decimal(18,6)")

  /** Lower-cased whitespace tokens, one row per instance, co-partitioned
    * by `idCol`; token-less docs keep ONE row with `_tok` NULL (so every
    * doc survives the per-doc aggregate without a join back to `docs` —
    * `count(_tok)` skips the null). */
  private def toksOuter(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.repartition(col(idCol))
      .select(col(idCol),
        explode_outer(split(lower(trim(col(textCol))), "\\s+")).as("_tok"))
      .withColumn("_tok",
        when(col("_tok") === "", lit(null: String)).otherwise(col("_tok")))

  /** Per-doc cross-entropy under an add-`addK`-smoothed bigram LM fitted
    * ON THE CORPUS ITSELF — the CCNet-shape quality proxy: boilerplate and
    * in-distribution text score low, lexical noise scores high, and no
    * external model artifact is needed. For each adjacent token pair,
    * p(w₂|w₁) = (C(w₁w₂)+k) / (C(w₁·)+k·V) with C(w₁·) the corpus count
    * of bigrams starting at w₁ and V the unigram vocabulary size (in-plan,
    * no driver pre-pass); the score is the mean of −ln p over the doc's
    * bigram INSTANCES, published as integer ppm (Σ tf·round(−ln p,6) in
    * exact micros, ONE integral division by the instance count — `div` ≡
    * DuckDB `//`, trunc ≡ floor on the non-negative sum; a rounded
    * double mean is the q171 divergence class). Output: (idCol,
    * n_bigrams, ce_ppm BIGINT), ce_ppm NULL for docs with fewer than two
    * tokens.
    *
    * Scale shape: ONE bigram pass — instances aggregate to a per-doc
    * (id, bigram, tf) frame in place (text repartitioned by id;
    * `explode_outer` keeps short docs in-stream), and the corpus count
    * tables DERIVE from that frame, so the text is never re-shuffled; the
    * shared scan+exchange under both references is deduplicated by
    * exchange reuse. The count-table joins are unhinted (see class doc):
    * broadcast at vocabulary scale, compact-frame shuffle beyond it. The
    * per-instance log term enters the doc mean as tf·round(−ln p, 6)
    * summed in DECIMAL — exact under any partition order. The vocab scan
    * aggregates map-side to one row. */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String,
                    addK: Double = 1.0): DataFrame = {
    require(addK > 0, "addK must be positive")
    val tfc = docs.repartition(col(idCol))
      .select(col(idCol),
        explode_outer(graft.functions.TextFunctions.wordBigrams(col(textCol)))
          .as("_bg"))
      .groupBy(col(idCol), col("_bg")).agg(count(col("_bg")).as("_tf"))
    val c12 = tfc.where(col("_bg").isNotNull)
      .groupBy(col("_bg")).agg(sum(col("_tf")).as("_c12"))
    val ctx = c12
      .select(split(col("_bg"), " ").getItem(0).as("_w1"), col("_c12"))
      .groupBy(col("_w1")).agg(sum(col("_c12")).as("_c1"))
    val vocab = docs
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("_tok"))
      .where(col("_tok") =!= "")
      .agg(countDistinct(col("_tok")).cast("double").as("_v"))
    val lp = Round6.guarded(-log((col("_c12") + lit(addK)) /
      (col("_c1") + lit(addK) * col("_v"))), "bigramLmScore")
    tfc
      .join(c12, Seq("_bg"), "left")
      .withColumn("_w1", split(col("_bg"), " ").getItem(0))
      .join(ctx, Seq("_w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol), col("_tf"), (col("_tf") * dec6(lp)).as("_lpw"))
      .groupBy(col(idCol))
      .agg(sum(when(col("_lpw").isNotNull, col("_tf")).otherwise(lit(0L)))
        .as("n_bigrams"),
        sum(col("_lpw")).as("_s"))
      .select(col(idCol), col("n_bigrams"),
        when(col("n_bigrams") > 0,
          expr("cast(_s * 1000000 as decimal(38,0)) div n_bigrams"))
          .as("ce_ppm"))
  }

  /** Per-doc cross-entropy under a Stupid-Backoff trigram LM fitted on a
    * REFERENCE corpus (Brants et al. 2007, "Large Language Models in
    * Machine Translation", §4 — the count-only backoff that replaced
    * Kneser-Ney at web scale) — the CCNet scoring shape proper: CCNet
    * ranks web text under a model fitted on a CLEAN reference (Wikipedia),
    * and it is the reference/corpus split that makes backoff real (an
    * in-corpus self-fit never backs off — every observed n-gram is in its
    * own count table; that self-fit tier is [[bigramLmScore]]).
    *
    * Per trigram instance w₁w₂w₃:
    * {{{
    *   S = C(w₁w₂w₃)/C(w₁w₂)          if the ref saw the trigram
    *     | α · C(w₂w₃)/C(w₂)          else if it saw the bigram w₂w₃
    *     | α² · max(C(w₃),1)/N        else (unseen w₃ floors at count 1)
    * }}}
    * score = mean of round(−ln S, 6) over the doc's trigram instances
    * (each branch is exact count division ± one α multiply — IEEE-exact;
    * the ln rounds to 6 dp; terms sum AS DECIMAL). Docs with fewer than
    * three tokens score NULL. `ref` must contain at least one token.
    *
    * Scale shape: ONE doc-keyed trigram pass (repartitioned by id,
    * `explode_outer` keeps short docs in-stream, instances aggregate to
    * (id, trigram, tf) in place); the reference count tables are three
    * count-only map-side-combined aggregates of `ref` (vocabulary-shaped
    * — unhinted joins, see class doc) plus a one-row token total
    * broadcast. Nothing text-sized shuffles beyond the aggregated
    * frames. The published mean is integer ppm (ONE integral division of
    * the exact micro-sum by the instance count — see [[bigramLmScore]]).
    * Output: (idCol, n_trigrams, ce_ppm BIGINT). */
  def trigramLmScore(docs: DataFrame, idCol: String, textCol: String,
                     ref: DataFrame, refTextCol: String,
                     alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha < 1, "trigramLmScore: alpha must be in (0,1)")
    import graft.functions.TextFunctions.{wordBigrams, wordTrigrams}
    val tfc = docs.repartition(col(idCol))
      .select(col(idCol),
        explode_outer(wordTrigrams(col(textCol))).as("_tg"))
      .groupBy(col(idCol), col("_tg")).agg(count(col("_tg")).as("_tf"))
    val c123 = ref.select(explode(wordTrigrams(col(refTextCol))).as("_tg"))
      .groupBy(col("_tg")).agg(count(lit(1)).as("_c123"))
    val cbg = ref.select(explode(wordBigrams(col(refTextCol))).as("_bg"))
      .groupBy(col("_bg")).agg(count(lit(1)).as("_cbg"))
    val un = ref
      .select(explode(split(lower(trim(col(refTextCol))), "\\s+")).as("_tok"))
      .where(col("_tok") =!= "")
    val cun = un.groupBy(col("_tok")).agg(count(lit(1)).as("_cun"))
    val n = un.agg(count(lit(1)).cast("double").as("_n"))
    val parts = tfc
      .withColumn("_els", split(col("_tg"), " "))
      .withColumn("_w12", concat_ws(" ", col("_els").getItem(0),
        col("_els").getItem(1)))
      .withColumn("_w23", concat_ws(" ", col("_els").getItem(1),
        col("_els").getItem(2)))
      .withColumn("_w2", col("_els").getItem(1))
      .withColumn("_w3", col("_els").getItem(2))
    val joined = parts
      .join(c123, Seq("_tg"), "left")
      .join(cbg.select(col("_bg").as("_w12"), col("_cbg").as("_c12")),
        Seq("_w12"), "left")
      .join(cbg.select(col("_bg").as("_w23"), col("_cbg").as("_c23")),
        Seq("_w23"), "left")
      .join(cun.select(col("_tok").as("_w2"), col("_cun").as("_c2")),
        Seq("_w2"), "left")
      .join(cun.select(col("_tok").as("_w3"), col("_cun").as("_c3")),
        Seq("_w3"), "left")
      .crossJoin(broadcast(n))
    val p = when(col("_c123").isNotNull,
        col("_c123").cast("double") / col("_c12"))
      .when(col("_c23").isNotNull,
        lit(alpha) * (col("_c23").cast("double") / col("_c2")))
      .otherwise(lit(alpha * alpha) *
        (coalesce(col("_c3"), lit(1L)).cast("double") / col("_n")))
    val lp = Round6.guarded(-log(p), "trigramLmScore")
    joined
      .select(col(idCol), col("_tf"),
        when(col("_tg").isNotNull, col("_tf") * dec6(lp)).as("_lpw"))
      .groupBy(col(idCol))
      .agg(sum(when(col("_lpw").isNotNull, col("_tf")).otherwise(lit(0L)))
        .as("n_trigrams"),
        sum(col("_lpw")).as("_s"))
      .select(col(idCol), col("n_trigrams"),
        when(col("n_trigrams") > 0,
          expr("cast(_s * 1000000 as decimal(38,0)) div n_trigrams"))
          .as("ce_ppm"))
  }

  /** Linear-classifier inference over hashed bag-of-tokens features — the
    * fastText-style quality gate: `weights` is a trained model as a
    * (bucket, weight) frame, each token contributes the weight of its
    * md5-60 hash bucket, and the doc's score is the mean contribution
    * plus `intercept`, published as SIGNED integer ppm: score_ppm =
    * intercept_ppm + sign(S)·(|S| div n_toks) — one integral division of
    * exact integers (`div` ≡ DuckDB `//`, sign split so trunc ≡ floor on
    * non-negative operands; a rounded double ratio is the q171
    * divergence class). Output: (idCol, n_toks, score_ppm BIGINT, keep)
    * with keep = score_ppm > 0; token-less docs score intercept_ppm.
    *
    * Weights are quantized ONCE to integer micro-units
    * (round(w·10⁶) — models ship ≤6-dp weights losslessly; the intercept
    * quantizes the same way on the JVM), so the per-doc aggregate is an
    * exact integer sum: bit-identical under retry, layout, and engine
    * replay, with no decimal column in flight.
    *
    * Scale shape: ONE corpus pass — the weight vector is `buckets`-bounded
    * and explicitly broadcast, inference is a map-only enrich of the token
    * stream plus one in-place per-doc aggregate (text repartitioned by id,
    * `explode_outer` keeps token-less docs in-stream); nothing text-sized
    * ever shuffles and there is no join back to `docs`. */
  def hashedLinearScore(docs: DataFrame, idCol: String, textCol: String,
                        weights: DataFrame, buckets: Int,
                        intercept: Double = 0.0): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val wq = weights.select(col("bucket"),
      round(col("weight") * 1e6).cast("long").as("_wq"))
    val iPpm = math.round(intercept * 1e6)
    toksOuter(docs, idCol, textCol)
      .withColumn("_bkt", pmod(Dedup.md5Hash60(col("_tok")), lit(buckets.toLong)))
      .join(broadcast(wq), col("_bkt") === col("bucket"), "left")
      .groupBy(col(idCol))
      .agg(count(col("_tok")).as("n_toks"),
        sum(coalesce(col("_wq"), lit(0L))).as("_s"))
      .select(col(idCol), col("n_toks"),
        when(col("n_toks") > 0,
          lit(iPpm) + expr(
            """(case when _s < 0 then -1L else 1L end) *
              |  (abs(_s) div n_toks)""".stripMargin))
          .otherwise(lit(iPpm)).as("score_ppm"))
      .withColumn("keep", col("score_ppm") > 0L)
  }

  /** Distributed FIT for the hashed linear quality gate — the training
    * half of [[hashedLinearScore]] (which serves an externally-supplied
    * weight vector; this learns one from labeled docs, closing the
    * "bring your own model" seam in the curation story): full-batch
    * gradient descent on the LEAST-SQUARES loss against ±1 targets,
    * L = Σᵢ (w·xᵢ − yᵢ)²/2n, over the same features the scorer reads —
    * xᵢ = per-doc token-frequency vector on md5-60 hashed buckets plus a
    * constant-1 intercept feature (bucket −1). Least squares rather than
    * logistic on purpose: the update rule is then a PURE RATIONAL chain
    * (no exp/ln — the [[Round6]] hazard class has nothing to round), so
    * the whole fit is integer-exact and an external SQL oracle replays
    * every epoch verbatim.
    *
    * Determinism: weights live as integer micro-units. Per epoch, each
    * doc's margin is sᵤ = (Σ_b wᵤ[b]·cnt_b) div d (exact integer ops;
    * `div` truncates toward zero, bit-matching DuckDB `//` — probed on
    * negatives), residual rᵤ = sᵤ − yᵤ with yᵤ = ±10⁶, per-bucket
    * gradient gᵤ = Σ_docs (rᵤ·cnt_b) div d (exact integer sum,
    * order-free), update wᵤ ← wᵤ − (lrPpm·(gᵤ div n)) div 10⁶. Zero
    * init, no seeds: the fit is a pure function of (corpus, labels,
    * buckets, epochs, lrPpm). Sub-micro mean gradients truncate to zero
    * — anything below the scorer's own quantization can't matter.
    *
    * Convergence: features are a probability simplex + intercept
    * (‖x‖² ≤ 2), so the Hessian's top eigenvalue is ≤ 2 and any
    * lr ≤ 0.25 (lrPpm 250000) strictly decreases the loss until the
    * micro-unit floor; the spec proves the decrease on a fixture.
    *
    * Scale shape: tokenize/hash ONCE into a compact persisted
    * (doc, bucket, cnt, d, yᵤ) frame (text never re-scanned across
    * epochs); each epoch is two joins against that frame — the weight
    * table is `buckets`-bounded and BROADCAST, the margin aggregate runs
    * in place on the id-partitioned frame, the gradient aggregate is
    * map-side-combined to `buckets` rows — and per-epoch lineage is
    * truncated ([[Graph.RoundStore]]; pass `checkpointDir` for
    * multi-hundred-epoch fits). n enters in-plan as a broadcast one-row
    * count, never a driver constant.
    *
    * `labelCol` must be 0/1; NULL-label docs are dropped up front on
    * both the local and the distributed path (no label, no gradient, not
    * counted in n). Output: (bucket BIGINT — −1 is the
    * intercept, weight_u BIGINT micro-units); serve by feeding
    * weight_u/10⁶ per bucket ≥ 0 as [[hashedLinearScore]]'s weight table
    * and the −1 row as its intercept. */
  def hashedLinearFit(docs: DataFrame, idCol: String, textCol: String,
                      labelCol: String, buckets: Int, epochs: Int,
                      lrPpm: Long = 250000L,
                      checkpointDir: Option[String] = None): DataFrame =
    hashedLinearFitImpl(docs, idCol, textCol, labelCol, buckets, epochs,
      lrPpm, checkpointDir, allowLocal = true)

  /** [[hashedLinearFit]] with the driver-local fast path switchable —
    * package-private so the spec can pin local == distributed equality. */
  private[graft] def hashedLinearFitImpl(
      docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, buckets: Int, epochs: Int,
      lrPpm: Long, checkpointDir: Option[String],
      allowLocal: Boolean): DataFrame = {
    require(buckets > 0, "hashedLinearFit: buckets must be positive")
    require(epochs > 0, "hashedLinearFit: epochs must be positive")
    require(lrPpm > 0 && lrPpm <= 1000000L,
      "hashedLinearFit: lrPpm must be in (0, 1e6]")
    val toks = docs.where(col(labelCol).isNotNull).repartition(col(idCol))
      .select(col(idCol).as("_id"),
        ((col(labelCol).cast("long") * 2 - 1) * 1000000L).as("_yu"),
        explode_outer(split(lower(trim(col(textCol))), "\\s+")).as("_tok"))
      .withColumn("_tok",
        when(col("_tok") === "", lit(null: String)).otherwise(col("_tok")))
    val counts = toks.where(col("_tok").isNotNull)
      .select(col("_id"),
        pmod(Dedup.md5Hash60(col("_tok")), lit(buckets.toLong)).as("_bkt"))
      .groupBy(col("_id"), col("_bkt")).agg(count(lit(1)).as("_cnt"))
    // one row per doc: token count floored to 1 so empty docs still carry
    // the intercept feature (cnt = d = 1) without a div-by-zero branch
    val dframe = toks.groupBy(col("_id"), col("_yu"))
      .agg(greatest(count(col("_tok")), lit(1L)).as("_d"))
    val feats = counts.join(dframe, Seq("_id"))
        .select(col("_id"), col("_bkt"), col("_cnt"), col("_d"), col("_yu"))
      .unionByName(dframe.select(col("_id"), lit(-1L).as("_bkt"),
        col("_d").as("_cnt"), col("_d"), col("_yu")))
      .persist()
    try {
      val localRows =
        if (allowLocal) boundedCollect(feats) else None
      localRows match {
        case Some(rows) =>
          val lf = parseLocalFeats(rows)
          val yuDoc = lf.payloadDoc.map(_.asInstanceOf[Long])
          val w = linFitEpochsLocal(lf, yuDoc, epochs, lrPpm)
          val out = lf.bktOfSlot.indices.map(i => (lf.bktOfSlot(i), w(i)))
          val sp = docs.sparkSession
          import sp.implicits._
          out.toDF("bucket", "weight_u")
        case None =>
          val nd = broadcast(dframe.agg(count(lit(1)).as("_nd")))
          val store = new Graph.RoundStore(checkpointDir, "linfit")
          linFitLoop(feats, nd, epochs, lrPpm, store)
            .select(col("_bkt").as("bucket"), col("_wu").as("weight_u"))
      }
    } finally feats.unpersist()
  }

  /** Driver budget for the local integer-GD path: feature frames at or
    * under this many (doc, bucket) rows — ≈ 5 longs each, low tens of MB
    * plus Row overhead — are collected and iterated on the driver; larger
    * fits keep the distributed epoch loop (the collectFitSample-ceiling
    * discipline the r20 advisory asked for). */
  private[ops] val LocalFitMaxRows = 524288

  /** Collect `feats` iff it fits [[LocalFitMaxRows]]: one job either way
    * (the distributed path pays a materializing count/collect anyway);
    * returns None past the ceiling without shipping the overflow. */
  private def boundedCollect(feats: DataFrame)
      : Option[Array[org.apache.spark.sql.Row]] = {
    val rows = feats.limit(LocalFitMaxRows + 1).collect()
    if (rows.length <= LocalFitMaxRows) Some(rows) else None
  }

  /** The collected feature frame in columnar driver form: per ROW the doc
    * slot, bucket slot and count; per DOC its token total `d` and the
    * payload column (yu for the binary fit, the class label for the
    * multiclass fit); per bucket SLOT the original bucket id. Slot order is
    * first-appearance — irrelevant to results (every aggregate downstream
    * is an order-free exact integer sum). */
  private final case class LocalFeats(
      doc: Array[Int], slot: Array[Int], cnt: Array[Long],
      dDoc: Array[Long], payloadDoc: Array[Any], bktOfSlot: Array[Long])

  private def parseLocalFeats(
      rows: Array[org.apache.spark.sql.Row]): LocalFeats = {
    val docIdx = new java.util.HashMap[Any, Integer]
    val slotIdx = new java.util.HashMap[Long, Integer]
    val n = rows.length
    val doc = new Array[Int](n)
    val slot = new Array[Int](n)
    val cnt = new Array[Long](n)
    val dBuf = scala.collection.mutable.ArrayBuffer.empty[Long]
    val pBuf = scala.collection.mutable.ArrayBuffer.empty[Any]
    val bBuf = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    while (i < n) {
      val r = rows(i)
      var di = docIdx.get(r.get(0))
      if (di == null) {
        di = docIdx.size
        docIdx.put(r.get(0), di)
        dBuf += r.getLong(3)
        pBuf += r.get(4)
      }
      val b = r.getLong(1)
      var si = slotIdx.get(b)
      if (si == null) {
        si = slotIdx.size
        slotIdx.put(b, si)
        bBuf += b
      }
      doc(i) = di; slot(i) = si; cnt(i) = r.getLong(2)
      i += 1
    }
    LocalFeats(doc, slot, cnt, dBuf.toArray, pBuf.toArray, bBuf.toArray)
  }

  /** Driver-local replay of [[linFitLoop]] — the r20 fitCentroidsLocal
    * treatment applied to the integer-GD family: the distributed loop's
    * per-epoch cost at bench scale was two joins + two aggregates of pure
    * plan/schedule latency while the cluster sat idle. BIT-IDENTICAL by
    * construction, with less to argue than the float quantizer fits:
    * every distributed aggregate here is an exact integer SUM (order-free,
    * so accumulation order cannot matter), every division is Spark `div`
    * (truncate toward zero ≡ Java long division), and overflow raises just
    * as ANSI sum/multiply would (Math.*Exact). The spec pins local ==
    * distributed equality on a fixture with negative residuals. */
  private def linFitEpochsLocal(lf: LocalFeats, yuDoc: Array[Long],
                                epochs: Int, lrPpm: Long): Array[Long] = {
    val n = lf.doc.length
    val nDocs = lf.dDoc.length
    val nSlots = lf.bktOfSlot.length
    val nd = nDocs.toLong
    val w = new Array[Long](nSlots)
    var e = 0
    while (e < epochs) {
      val z = new Array[Long](nDocs)
      var i = 0
      while (i < n) {
        z(lf.doc(i)) = Math.addExact(z(lf.doc(i)),
          Math.multiplyExact(w(lf.slot(i)), lf.cnt(i)))
        i += 1
      }
      val ru = new Array[Long](nDocs)
      i = 0
      while (i < nDocs) {
        ru(i) = Math.subtractExact(z(i) / lf.dDoc(i), yuDoc(i))
        i += 1
      }
      val g = new Array[Long](nSlots)
      i = 0
      while (i < n) {
        val d = lf.dDoc(lf.doc(i))
        g(lf.slot(i)) = Math.addExact(g(lf.slot(i)),
          Math.multiplyExact(ru(lf.doc(i)), lf.cnt(i)) / d)
        i += 1
      }
      i = 0
      while (i < nSlots) {
        w(i) = Math.subtractExact(w(i),
          Math.multiplyExact(lrPpm, g(i) / nd) / 1000000L)
        i += 1
      }
      e += 1
    }
    w
  }

  /** The epoch loop shared by [[hashedLinearFit]] and [[langIdFit]]:
    * `feats` is the persisted (_id, _bkt, _cnt, _d, _yu) feature frame
    * (bucket −1 = the intercept feature), `nd` the broadcast one-row doc
    * count. Returns the (_bkt, _wu) weight vector after `epochs` exact
    * integer-GD rounds (the q195 arithmetic, verbatim). */
  private def linFitLoop(feats: DataFrame, nd: DataFrame, epochs: Int,
                         lrPpm: Long, store: Graph.RoundStore): DataFrame = {
    var w = feats.select(col("_bkt")).distinct()
      .select(col("_bkt"), lit(0L).as("_wu"))
    for (_ <- 1 to epochs) {
      val resid = feats.join(broadcast(w), Seq("_bkt"))
        .groupBy(col("_id"), col("_d"), col("_yu"))
        .agg(sum(col("_wu") * col("_cnt")).as("_z"))
        .select(col("_id"), (expr("_z div _d") - col("_yu")).as("_ru"))
      val grad = feats.join(resid, Seq("_id"))
        .select(col("_bkt"), expr("(_ru * _cnt) div _d").as("_c"))
        .groupBy(col("_bkt")).agg(sum(col("_c")).as("_g"))
      w = store.truncate(
        w.join(grad, Seq("_bkt"), "left").crossJoin(nd)
          .select(col("_bkt"), (col("_wu") -
            expr(s"(${lrPpm}L * (coalesce(_g, 0L) div _nd)) div 1000000L"))
            .as("_wu")))
    }
    w
  }

  /** One-vs-all multiclass FIT for the hashed language-ID model — the
    * training half of [[langIdScore]] (which serves an externally
    * supplied (lang, bucket, weight) table; this learns one from a
    * labeled corpus, closing the last bring-your-own-model seam): for
    * each distinct class c in `classCol`, run [[hashedLinearFit]]'s
    * exact integer-GD loop against the binary target (class == c) over
    * the SAME hashed-token features, and stack the learned vectors as
    * (lang, bucket −1 = intercept, weight_u micro-units). Serve by
    * feeding weight_u/10⁶ straight into [[langIdScore]] — its bucket −1
    * rows are the per-class intercepts and its argmax is over
    * Σ w + intercept·n (the mean + intercept, n shared across classes).
    *
    * Determinism: class list is the SORTED distinct classCol values
    * (driver-collected — class-bounded by contract); each class's fit is
    * byte-identical to [[hashedLinearFit]] on the binarized label (the
    * spec pins the equality), so the whole model is a pure function of
    * (corpus, labels, buckets, epochs, lrPpm).
    *
    * Scale shape: the corpus is tokenized/hashed ONCE into one persisted
    * feature frame shared by every class (the text is never re-scanned
    * per class — K re-reads of raw text would dominate at 100 TB); per
    * class the cost is [[hashedLinearFit]]'s two-joins-per-epoch against
    * that frame with a `buckets`-bounded broadcast weight table, and
    * per-class lineage is truncated independently. NULL-class docs are
    * dropped (no label, no vote). Output: (lang STRING, bucket BIGINT,
    * weight_u BIGINT), (classes × ≤ buckets+1) rows. */
  def langIdFit(docs: DataFrame, idCol: String, textCol: String,
                classCol: String, buckets: Int, epochs: Int,
                lrPpm: Long = 250000L,
                checkpointDir: Option[String] = None): DataFrame =
    langIdFitImpl(docs, idCol, textCol, classCol, buckets, epochs, lrPpm,
      checkpointDir, allowLocal = true)

  /** [[langIdFit]] with the driver-local fast path switchable —
    * package-private so the spec can pin local == distributed equality. */
  private[graft] def langIdFitImpl(
      docs: DataFrame, idCol: String, textCol: String,
      classCol: String, buckets: Int, epochs: Int,
      lrPpm: Long, checkpointDir: Option[String],
      allowLocal: Boolean): DataFrame = {
    require(buckets > 0, "langIdFit: buckets must be positive")
    require(epochs > 0, "langIdFit: epochs must be positive")
    require(lrPpm > 0 && lrPpm <= 1000000L,
      "langIdFit: lrPpm must be in (0, 1e6]")
    val base = docs.where(col(classCol).isNotNull).repartition(col(idCol))
      .select(col(idCol).as("_id"), col(classCol).cast("string").as("_lab"),
        explode_outer(split(lower(trim(col(textCol))), "\\s+")).as("_tok"))
      .withColumn("_tok",
        when(col("_tok") === "", lit(null: String)).otherwise(col("_tok")))
    val counts = base.where(col("_tok").isNotNull)
      .select(col("_id"),
        pmod(Dedup.md5Hash60(col("_tok")), lit(buckets.toLong)).as("_bkt"))
      .groupBy(col("_id"), col("_bkt")).agg(count(lit(1)).as("_cnt"))
    val dframe = base.groupBy(col("_id"), col("_lab"))
      .agg(greatest(count(col("_tok")), lit(1L)).as("_d"))
    val shared = counts.join(dframe, Seq("_id"))
        .select(col("_id"), col("_bkt"), col("_cnt"), col("_d"), col("_lab"))
      .unionByName(dframe.select(col("_id"), lit(-1L).as("_bkt"),
        col("_d").as("_cnt"), col("_d"), col("_lab")))
      .persist()
    try {
      val localRows =
        if (allowLocal) boundedCollect(shared) else None
      localRows match {
        case Some(rows) =>
          // One parse serves every class: only yu (a function of _lab vs
          // the class) changes between the K driver-local replays.
          val lf = parseLocalFeats(rows)
          val labDoc = lf.payloadDoc.map(_.asInstanceOf[String])
          val classes = labDoc.distinct.sorted.toSeq
          require(classes.nonEmpty,
            "langIdFit: no non-NULL class values to fit (empty.reduce " +
              "would otherwise throw far from the cause)")
          val out = classes.flatMap { c =>
            val yuDoc = labDoc.map(l => if (l == c) 1000000L else -1000000L)
            val w = linFitEpochsLocal(lf, yuDoc, epochs, lrPpm)
            lf.bktOfSlot.indices.map(i => (c, lf.bktOfSlot(i), w(i)))
          }
          val sp = docs.sparkSession
          import sp.implicits._
          out.toDF("lang", "bucket", "weight_u")
        case None =>
          shared.count() // materialize before the per-class loops fan out
          val nd = broadcast(dframe.agg(count(lit(1)).as("_nd")))
          val classes = dframe.select(col("_lab")).distinct()
            .collect().map(_.getString(0)).sorted.toSeq
          require(classes.nonEmpty,
            "langIdFit: no non-NULL class values to fit (empty.reduce " +
              "would otherwise throw far from the cause)")
          classes.map { c =>
            val feats = shared.withColumn("_yu",
              (when(col("_lab") === c, 1L).otherwise(-1L) * 1000000L))
            val store = new Graph.RoundStore(checkpointDir, s"linfit_$c")
            linFitLoop(feats, nd, epochs, lrPpm, store)
              .select(lit(c).as("lang"), col("_bkt").as("bucket"),
                col("_wu").as("weight_u"))
              // per-class weights are buckets-bounded: pin them NOW so the
              // stacked union does not re-run K epoch chains lazily against
              // an unpersisted cache after the finally
              .localCheckpoint()
          }.reduce(_ unionByName _)
      }
    } finally shared.unpersist()
  }

  /** Multiclass hashed language identification — the fastText-LID shape
    * (Joulin et al., "Bag of Tricks for Efficient Text Classification"):
    * `weights` is a trained multiclass model as a (lang, bucket, weight)
    * frame, each token instance contributes its md5-60 bucket's weight to
    * EVERY class that has one there, and the doc's language is the argmax
    * class with the SMALLEST lang label breaking ties. This is the first
    * gate of a multilingual pipeline — the producer of the `lang` column
    * the per-language ops (bytes-per-token audits, temperature mixtures)
    * consume. Output: (idCol, n_toks, lang, score_ppm BIGINT) with
    * score_ppm the winning class's mean per-token contribution as SIGNED
    * integer ppm (sign · (|sum| div n_toks) — `div` ≡ DuckDB `//`, sign
    * split so trunc ≡ floor; never a rounded double ratio, the q171
    * divergence class); token-less docs get NULL lang/score_ppm (no
    * evidence, no verdict). Weight rows with bucket −1 are per-class
    * INTERCEPTS ([[langIdFit]]'s layout): each enters its class's sum as
    * intercept·n_toks, i.e. the published score is mean + intercept —
    * matching [[hashedLinearScore]]'s binary contract; models without −1
    * rows are unaffected.
    *
    * Determinism: weights quantize ONCE to integer micro-units (the
    * [[hashedLinearScore]] contract), per-class sums are exact integer
    * aggregates, and the argmax compares integer sums (same n_toks for
    * every class of a doc, so the sum argmax IS the mean argmax) via a
    * lexicographic struct min over (−sum, lang) — bit-identical under
    * retry, layout, and engine replay. A class absent from a doc's
    * buckets competes at score 0, not absent — missing evidence is a
    * zero vote, and a sparse model must not silently shrink the class
    * list per doc.
    *
    * Scale shape: the model is (classes × buckets)-bounded and broadcast
    * twice (weights into the token stream, the distinct class list into
    * the per-doc frame); after [[toksOuter]]'s one id-repartition the
    * token fan-out (≤ classes rows per instance), both aggregates, the
    * class cross join and the argmax all run IN PLACE — id-partitioning
    * satisfies every downstream (id, lang) clustering, so nothing
    * text-sized or token-sized ever re-shuffles. */
  def langIdScore(docs: DataFrame, idCol: String, textCol: String,
                  weights: DataFrame, buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val wq = weights.select(col("lang"), col("bucket"),
      round(col("weight") * 1e6).cast("long").as("_wq"))
    // bucket −1 rows are per-class INTERCEPTS ([[langIdFit]]'s layout):
    // they can never match a pmod bucket, so they are split out and
    // enter each class's sum as intercept·n_toks (mean + intercept in
    // sum space — n_toks is shared across classes, so the argmax is
    // unchanged in spirit and exact in integers). A model without −1
    // rows behaves exactly as before.
    val icpt = wq.where(col("bucket") === -1L)
      .select(col("lang"), col("_wq").as("_iu"))
    val wreal = wq.where(col("bucket") >= 0L)
    val langs = wq.select(col("lang")).distinct()
    val toks = toksOuter(docs, idCol, textCol)
      .withColumn("_bkt", pmod(Dedup.md5Hash60(col("_tok")), lit(buckets.toLong)))
    val counts = toks.groupBy(col(idCol)).agg(count(col("_tok")).as("n_toks"))
    val sums = toks.join(broadcast(wreal), col("_bkt") === col("bucket"))
      .groupBy(col(idCol), col("lang")).agg(sum(col("_wq")).as("_s"))
    counts.crossJoin(broadcast(langs))
      .join(sums, Seq(idCol, "lang"), "left")
      .join(broadcast(icpt), Seq("lang"), "left")
      .withColumn("_sc", coalesce(col("_s"), lit(0L)) +
        coalesce(col("_iu"), lit(0L)) * col("n_toks"))
      .groupBy(col(idCol), col("n_toks"))
      .agg(min(struct((-col("_sc")).as("s"), col("lang").as("l"))).as("_m"))
      .withColumn("_bs", -col("_m").getField("s"))
      .select(col(idCol), col("n_toks"),
        when(col("n_toks") > 0, col("_m").getField("l")).as("lang"),
        when(col("n_toks") > 0, expr(
          """(case when _bs < 0 then -1L else 1L end) *
            |  (abs(_bs) div n_toks)""".stripMargin))
          .as("score_ppm"))
  }

  /** DSIR importance weights (Xie et al., "Data Selection for Language
    * Models via Importance Resampling"): score each doc by how much more
    * likely its hashed-unigram features are under a TARGET domain than
    * under the raw corpus — the principled version of "select crawl data
    * that looks like wikipedia". Per bucket b,
    * lr(b) = ln p̂_t(b) − ln p̂_r(b) with add-one-smoothed hashed-feature
    * frequencies (denominators N+`buckets`); a doc's log-weight is the sum
    * of lr over its token instances. Feed the output straight into
    * [[Sampling.mixtureResample]] / [[Sampling.topKPerStratum]] for the
    * resampling step. Output: (idCol, n_toks, dsir_logw), NULL log-weight
    * for token-less docs.
    *
    * Scale shape: the canonical two corpus passes (fit the raw feature
    * counts, then score) plus one target pass — each `buckets`-bounded
    * count table aggregates map-side; their totals are one-row aggregates
    * DERIVED FROM THE COUNT TABLES (no extra scan); the ln pair is
    * evaluated once per bucket on the dim table — never per token — and
    * the enriched ratio table is broadcast into the scoring pass, whose
    * per-doc aggregate runs in place (text repartitioned by id,
    * `explode_outer` keeps token-less docs in-stream, no join back). */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  target: DataFrame, targetTextCol: String,
                  buckets: Int = 4096): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    def bucketStream(df: DataFrame, text: String): DataFrame =
      df.select(explode(split(lower(trim(col(text))), "\\s+")).as("_tok"))
        .where(col("_tok") =!= "")
        .select(pmod(Dedup.md5Hash60(col("_tok")), lit(buckets.toLong)).as("_bkt"))
    val ct = bucketStream(target, targetTextCol)
      .groupBy(col("_bkt")).agg(count(lit(1)).as("_ct"))
    val cr = bucketStream(docs, textCol)
      .groupBy(col("_bkt")).agg(count(lit(1)).as("_cr"))
    val nt = ct.agg(coalesce(sum(col("_ct")), lit(0L)).cast("double").as("_nt"))
    val nr = cr.agg(coalesce(sum(col("_cr")), lit(0L)).cast("double").as("_nr"))
    val b = lit(buckets.toDouble)
    val dim = cr.join(ct, Seq("_bkt"), "left")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .select(col("_bkt"),
        dec6(Round6.guarded(
          log((coalesce(col("_ct"), lit(0L)) + lit(1.0)) / (col("_nt") + b)) -
            log((col("_cr") + lit(1.0)) / (col("_nr") + b)),
          "dsirLogWeights")).as("_lr"))
    toksOuter(docs, idCol, textCol)
      .withColumn("_bkt", pmod(Dedup.md5Hash60(col("_tok")), lit(buckets.toLong)))
      .join(broadcast(dim), Seq("_bkt"), "left")
      .groupBy(col(idCol))
      .agg(count(col("_tok")).as("n_toks"),
        sum(col("_lr")).as("_s"))
      .select(col(idCol), col("n_toks"),
        when(col("n_toks") > 0, round(col("_s").cast("double"), 6))
          .as("dsir_logw"))
  }

  /** Per-bucket distribution drift between a BATCH and a REFERENCE corpus
    * — the data-quality monitor a recurring-crawl pipeline runs before
    * admitting a batch: hashed-unigram token distributions (the
    * [[dsirWeights]] feature space), add-1 smoothed, compared bucket by
    * bucket. Output one row per bucket observed in EITHER stream:
    * (bucket, n_batch, n_ref, llr, kl_ppm) where
    * `llr = ln p̂_b − ln p̂_r` (6 dp, [[Round6.guarded]]) and `kl_ppm =
    * sign(llr) · (((n_batch+1)·|llr·10⁶|) div (N_b+buckets))` — the
    * exact integral quantization of p̂_b·llr·10⁶ (`div` ≡ DuckDB `//`,
    * sign split so trunc ≡ floor; rounding the rational product p̂_b·llr
    * to 6 dp is the q171 divergence class). Summing kl_ppm approximates
    * KL(batch ‖ reference)·10⁶; sorting by |llr| surfaces WHICH features
    * moved (the actionable part: a spam wave or a parser regression
    * shows up as specific buckets, not just a scalar).
    *
    * Same determinism contract as the rest of the tier: counts are exact
    * integers, the one ln per bucket is guarded round-6 and re-enters as
    * an exact micro-unit integer (never aggregated as floats), so the
    * table is bit-identical across runs, layouts, and engines. Scale
    * shape: one pass per stream into
    * `buckets`-bounded map-side-combined count tables; totals are one-row
    * aggregates DERIVED from those tables (no extra scan); the final
    * full-outer join touches ≤ 2·`buckets` rows. */
  def distributionDrift(batch: DataFrame, batchTextCol: String,
                        reference: DataFrame, refTextCol: String,
                        buckets: Int = 4096): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    def bucketStream(df: DataFrame, text: String): DataFrame =
      df.select(explode(split(lower(trim(col(text))), "\\s+")).as("_tok"))
        .where(col("_tok") =!= "")
        .select(pmod(Dedup.md5Hash60(col("_tok")), lit(buckets.toLong)).as("bucket"))
    val cb = bucketStream(batch, batchTextCol)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_batch"))
    val cr = bucketStream(reference, refTextCol)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_ref"))
    val nb = cb.agg(coalesce(sum(col("n_batch")), lit(0L)).as("_nbl"))
    val nr = cr.agg(coalesce(sum(col("n_ref")), lit(0L)).as("_nrl"))
    val b = lit(buckets.toDouble)
    val pb = (coalesce(col("n_batch"), lit(0L)) + lit(1.0)) /
      (col("_nbl").cast("double") + b)
    val pr = (coalesce(col("n_ref"), lit(0L)) + lit(1.0)) /
      (col("_nrl").cast("double") + b)
    val llr = Round6.guarded(log(pb) - log(pr), "doremiLlr")
    cb.join(cr, Seq("bucket"), "full_outer")
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nr))
      .select(col("bucket"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        llr.as("llr"), col("_nbl"))
      .withColumn("_lu", floor(col("llr") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("kl_ppm", expr(
        s"""(case when _lu < 0 then -1L else 1L end) *
           |  ((cast(n_batch + 1L as decimal(38,0)) * abs(_lu))
           |     div (_nbl + ${buckets}L))""".stripMargin))
      .drop("_lu", "_nbl")
  }

  /** Value-based per-key quantile bucketing — the CCNet split (Wenzek et
    * al. 2020 §4.3: per language, order by LM perplexity and cut into
    * head/middle/tail thirds; training recipes then sample the buckets at
    * different rates). Adds an INT `bucket` column (0 = best/lowest score
    * … `b`−1 = worst); rows with a NULL score get a NULL bucket (no
    * evidence, no verdict — the [[langIdScore]] convention).
    *
    * Semantics are VALUE-based, not rank-based, so they are a pure
    * function of the per-key score multiset (independent of row order and
    * of how the cumulative counts are computed): threshold
    * `t_j` = smallest score whose cumulative count `cum` satisfies
    * `cum·b ≥ j·n` (integer arithmetic — no ceil, no floats), and
    * `bucket = #{j : score > t_j}`. Equal scores always land in the same
    * bucket — a tie can never straddle a cut, which is what a sampling
    * policy keyed on the bucket needs for determinism.
    *
    * Scale shape: a naive `cum` would be ONE window task holding every
    * distinct score of a key — corpus-sized for 6-dp mean scores, the
    * exact single-task tail this library bans. Instead the cumulative
    * count is TWO-LEVEL: a coarse-bin histogram (`floor(score·coarseBins)`
    * — range·coarseBins rows per key) carries the running total BETWEEN
    * bins, and the within-bin window is partitioned by (key, bin) so no
    * task ever holds more than one bin's distinct scores (pick
    * `coarseBins` so corpus/(range·coarseBins) fits a task). Both
    * histogram aggregates combine map-side; the (key × (b−1)) threshold
    * table is broadcast back, so the labeling pass is map-only — which
    * BOUNDS the key cardinality: the thresholds must fit a broadcast
    * (key-cardinality × (b−1) rows; fine for the per-language design
    * center at ~10²–10³ keys, NOT for per-domain/per-URL keys at 10⁷+ —
    * for those, drop to a plain shuffled join by removing the hint). The
    * DuckDB oracle (q131) replays the value-based DEFINITION with a plain
    * one-level window — the two-level structure is result-invisible by
    * construction. */
  def quantileBuckets(scored: DataFrame, keyCol: String, scoreCol: String,
                      b: Int = 3, coarseBins: Double = 100.0): DataFrame = {
    require(b >= 2, "quantileBuckets: need at least 2 buckets")
    require(coarseBins > 0, "quantileBuckets: coarseBins must be positive")
    val s = col(scoreCol)
    val th = valueThresholds(scored, keyCol, scoreCol, b, coarseBins)
    val bucket = (1 until b)
      .map(j => when(s > col(s"_t$j"), 1).otherwise(0))
      .reduce(_ + _)
    scored.join(broadcast(th), Seq(keyCol), "left")
      .withColumn("bucket",
        when(s.isNotNull, bucket).otherwise(lit(null).cast("int")))
      .drop((1 until b).map(j => s"_t$j"): _*)
  }

  /** Per-key VALUE-based quantile thresholds — the two-level-cumulative
    * core of [[quantileBuckets]], exposed package-side so other ops
    * ([[robustZScores]]) reuse the same definition: `_tj` is the smallest
    * score value v with (#rows ≤ v)·b ≥ j·n. Two-level cum (coarse-bin
    * running total + within-bin window) so no task holds a key's whole
    * distinct-score set. Output: one row per key, columns `_t1.._t{b-1}`
    * (key-cardinality-sized — the caller's broadcast contract). */
  private[ops] def valueThresholds(scored: DataFrame, keyCol: String,
                                   scoreCol: String, b: Int,
                                   coarseBins: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = col(scoreCol)
    val fine = scored.where(s.isNotNull)
      .select(col(keyCol), s.as("_s"),
        floor(s * coarseBins).cast("long").as("_g"))
      .groupBy(col(keyCol), col("_g"), col("_s"))
      .agg(count(lit(1)).as("_c"))
    val coarse = fine.groupBy(col(keyCol), col("_g"))
      .agg(sum(col("_c")).as("_cg"))
    val wBefore = Window.partitionBy(col(keyCol)).orderBy(col("_g"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val coarseCum = coarse
      .withColumn("_before", coalesce(sum(col("_cg")).over(wBefore), lit(0L)))
      .withColumn("_n", sum(col("_cg")).over(Window.partitionBy(col(keyCol))))
      .select(col(keyCol), col("_g"), col("_before"), col("_n"))
    val wIn = Window.partitionBy(col(keyCol), col("_g")).orderBy(col("_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = fine.withColumn("_in", sum(col("_c")).over(wIn))
      .join(coarseCum, Seq(keyCol, "_g"))
      .withColumn("_cum", col("_before") + col("_in"))
    val thAggs = (1 until b).map(j =>
      min(when(col("_cum") * b >= col("_n") * j, col("_s"))).as(s"_t$j"))
    cum.groupBy(col(keyCol)).agg(thAggs.head, thAggs.tail: _*)
  }

  /** Per-key robust z-scores (median/MAD) — cross-population score
    * normalization: a learned quality gate scores different languages /
    * sources on different scales, and a single global threshold then
    * over-prunes whole populations; normalizing by the key's own median
    * and median-absolute-deviation (the outlier-robust location/scale
    * pair — Iglewicz & Hoaglin 1993) makes one cut comparable across
    * keys. Median is the VALUE-based lower median (smallest v with
    * 2·(#rows ≤ v) ≥ n — [[valueThresholds]] at b = 2, so the result is
    * a pure function of the per-key score multiset, never interpolated);
    * MAD is the same statistic over |score − median|.
    *
    * z_ppm = sign(score − median) · ((|score − median|·10⁶) div mad) in
    * exact decimal micros — SIGNED integer ppm via one integral division
    * (`div` ≡ DuckDB `//`; operands kept non-negative so trunc ≡ floor,
    * sign reapplied after — the cross-engine publication rule; a rounded
    * double ratio is the q171 divergence class). Exact when the score is
    * integral or a ≤ 6-dp decimal (every declared use); a DOUBLE/FLOAT
    * score is routed through [[Round6.guarded]] IN-OP (r18 advisory fix —
    * the doc used to ask callers to pre-round and nothing enforced it, so
    * a raw double pushed an uncertified HALF_UP into the micros cast):
    * the guarded 6-dp round happens up front, median/MAD/z all see the
    * same certified multiset, and the subsequent decimal cast is exact by
    * construction (hazard-band values raise). NULL when the score is
    * NULL or the MAD is 0 (≥ half the key's scores equal its median — a
    * degenerate population where no robust scale exists; publishing ±∞
    * or 0 would silently pass/kill those rows at any threshold).
    *
    * Scale shape: two [[valueThresholds]] passes (each two bounded
    * windows + a key-sized aggregate) + two broadcast joins back onto the
    * corpus — the threshold tables are key-cardinality-sized and must fit
    * a broadcast (the [[quantileBuckets]] contract). Output: input
    * columns + median, mad, z_ppm (+ `quarantined` 0/1 when
    * `lenientGuard` — production callers opt into quarantine-not-abort
    * for hazard-band doubles; declared queries keep the raising
    * default). */
  def robustZScores(scored: DataFrame, keyCol: String, scoreCol: String,
                    coarseBins: Double = 100.0,
                    lenientGuard: Boolean = false): DataFrame = {
    require(coarseBins > 0, "robustZScores: coarseBins must be positive")
    // in-op guard (see Scaladoc): a double/float score gets the certified
    // 6-dp round BEFORE any statistic, so median/MAD/z share one exact
    // multiset and the decimal(38,6) cast below cannot round again.
    // lenientGuard = false (declared queries): a hazard-band score RAISES
    // — the oracle-compared path must never publish an uncertifiable
    // round. lenientGuard = true (production corpora, r19 advisory fix):
    // a web-scale corpus of raw doubles is near-certain to hit the
    // ~2e-6 hazard band somewhere, and aborting the whole job for one
    // row is wrong there — the hazard row instead quarantines (score
    // NULLs ⇒ its z_ppm is NULL, it drops out of the median/MAD multiset)
    // and is counted in the output's `quarantined` column (same
    // predicate as lenient by construction — Round6.quarantineFlag).
    val isFloating = scored.schema(scoreCol).dataType match {
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType => true
      case _ => false
    }
    val base =
      if (isFloating && lenientGuard)
        scored
          .withColumn("_s6", Round6.lenient(col(scoreCol).cast("double")))
          .withColumn("quarantined",
            Round6.quarantineFlag(col(scoreCol).cast("double")))
      else if (isFloating)
        scored.withColumn("_s6",
          Round6.guarded(col(scoreCol).cast("double"), "robustZScores score"))
      else if (lenientGuard)
        // Exact (non-floating) scores have no hazard band, but the output
        // schema must not depend on the score's data type — a lenient
        // caller always gets the `quarantined` column (all zeros here).
        scored.withColumn("_s6", col(scoreCol))
          .withColumn("quarantined", lit(0))
      else scored.withColumn("_s6", col(scoreCol))
    val med = valueThresholds(base, keyCol, "_s6", 2, coarseBins)
      .select(col(keyCol), col("_t1").as("median"))
    val dev = base.where(col("_s6").isNotNull)
      .join(broadcast(med), Seq(keyCol))
      .select(col(keyCol),
        abs(col("_s6") - col("median")).as("_dev"))
    val mad = valueThresholds(dev, keyCol, "_dev", 2, coarseBins)
      .select(col(keyCol), col("_t1").as("mad"))
    base.join(broadcast(med), Seq(keyCol), "left")
      .join(broadcast(mad), Seq(keyCol), "left")
      // operands widen to DECIMAL(38,6) BEFORE the ×10⁶: a long score
      // multiplied in native arithmetic would silently wrap past ~9.2e12
      // (non-ANSI long overflow) — per-source token totals at the 100 TB
      // mandate sit exactly there
      .withColumn("_num_u",
        when(col("_s6").isNotNull && col("mad") =!= 0,
          expr("cast((cast(_s6 as decimal(38,6)) - median)" +
            " * 1000000 as decimal(38,0))")))
      .withColumn("z_ppm",
        when(col("_num_u").isNotNull, expr(
          """(case when _num_u < 0 then -1L else 1L end) *
            |  ((abs(_num_u) * 1000000)
            |     div cast(cast(mad as decimal(38,6)) * 1000000
            |           as decimal(38,0)))""".stripMargin)))
      .drop("_num_u", "_s6")
  }

  /** Classifier calibration table (reliability diagram + ECE, Guo et al.
    * 2017 arXiv:1706.04599 §2) — the standing eval for every learned
    * quality/LID/toxicity gate in a curation pipeline: scores in
    * integer ppm are cut into `bins` equal-width confidence bins; each
    * bin reports its count, positives, exact confidence and accuracy
    * (floored ppm), and its Expected-Calibration-Error contribution
    * (n_b/N)·|acc_b − conf_b| as `ece_contrib_ppm` — summing the column
    * IS the ECE in ppm. A well-calibrated gate has conf ≈ acc per bin;
    * a miscalibrated one tells you which score REGION to re-threshold.
    *
    * Everything is integer arithmetic over decimal(38) products (the
    * [[graft.ops.Sampling.epochPlan]] convention): no doubles anywhere,
    * so a 10¹²-row eval set replays bit-exactly in any engine. Scores
    * outside [0, 1e6] are rejected up front (a silent clamp would fold
    * junk into the boundary bins and skew ECE where it matters most).
    *
    * Scale shape: ONE map-side-combined groupBy on the bin (output is
    * `bins` rows) + a broadcast one-row total. Output: (bin INT, n,
    * n_pos, sum_score_ppm, conf_ppm, acc_ppm, ece_contrib_ppm). */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
                      bins: Int = 10): DataFrame = {
    require(bins >= 2, "calibrationBins: need at least 2 bins")
    val dec = "decimal(38,0)"
    val s = col(scoreCol).cast("long")
    val checked = df.select(s.as("_s"), col(labelCol).cast("long").as("_y"))
      .withColumn("_s", when(col("_s").between(0L, 1000000L), col("_s"))
        .otherwise(raise_error(concat(lit(
          "calibrationBins: score_ppm out of [0, 1e6]: "),
          col("_s").cast("string")))))
    val binned = checked.select(
      least(floor(col("_s").cast(dec) * lit(bins) / lit(1000000L))
        .cast("int"), lit(bins - 1)).as("bin"),
      col("_s"), col("_y"))
    val agg = binned.groupBy(col("bin")).agg(
      count(lit(1)).as("n"), sum(col("_y")).as("n_pos"),
      sum(col("_s")).as("sum_score_ppm"))
    val total = agg.agg(sum(col("n")).as("_nt"))
    agg.crossJoin(broadcast(total)).select(
      col("bin"), col("n"), col("n_pos"), col("sum_score_ppm"),
      floor(col("sum_score_ppm").cast(dec) / col("n")).cast("long")
        .as("conf_ppm"),
      floor(col("n_pos").cast(dec) * lit(1000000L) / col("n")).cast("long")
        .as("acc_ppm"),
      floor(abs(col("n_pos").cast(dec) * lit(1000000L)
        - col("sum_score_ppm")) / col("_nt")).cast("long")
        .as("ece_contrib_ppm"))
  }

  /** Operating-point sweep for a score gate — [[calibrationBins]]' audit
    * tells you WHETHER the gate is trustworthy; this tells you WHERE to
    * cut: for every candidate threshold t_j = ceil(j·1e6/bins) (predict
    * positive iff score_ppm ≥ t_j — ceil, not floor, because t_j must be
    * the exact integer decision boundary of bin j: the smallest integer
    * score that lands in bins ≥ j; a floored value would sit one score
    * unit BELOW the boundary the counts were computed at whenever bins
    * does not divide 1e6), the confusion counts and floored-ppm
    * precision / recall / F1. The suffix-sum trick makes the whole sweep
    * ONE aggregation pass: per-bin (n, n_pos) first (bins rows), then tp
    * and predicted-positive counts as running sums from the top bin down
    * — never one scan per threshold.
    *
    * Same exactness contract as [[calibrationBins]]: integer arithmetic
    * over decimal(38) products, scores validated into [0, 1e6], F1 as
    * floor(2·tp·1e6 / (pp + pos)) (the precision/recall harmonic mean
    * without intermediate rounding). Degenerate thresholds (no predicted
    * positives) report precision/f1 = 0 rather than dividing by zero.
    *
    * Scale shape: one map-side-combined groupBy to `bins` rows, then
    * windows over those bins rows only. Output: (thr_ppm, tp, fp, fn,
    * precision_ppm, recall_ppm, f1_ppm), one row per threshold,
    * ascending. */
  def thresholdSweep(df: DataFrame, scoreCol: String, labelCol: String,
                     bins: Int = 10): DataFrame = {
    require(bins >= 2, "thresholdSweep: need at least 2 bins")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val s = col(scoreCol).cast("long")
    val checked = df.select(s.as("_s"), col(labelCol).cast("long").as("_y"))
      .withColumn("_s", when(col("_s").between(0L, 1000000L), col("_s"))
        .otherwise(raise_error(concat(lit(
          "thresholdSweep: score_ppm out of [0, 1e6]: "),
          col("_s").cast("string")))))
    // bin j holds scores in [j·1e6/bins, (j+1)·1e6/bins); score 1e6 folds
    // into the top bin, matching calibrationBins
    val binned = checked.select(
      least(floor(col("_s").cast(dec) * lit(bins) / lit(1000000L))
        .cast("int"), lit(bins - 1)).as("bin"), col("_y"))
    val agg = binned.groupBy(col("bin")).agg(
      count(lit(1)).as("_n"), sum(col("_y")).as("_npos"))
    // missing bins would break the suffix sums: densify to all `bins` rows
    val allBins = df.sparkSession.range(bins)
      .select(col("id").cast("int").as("bin"))
    val dense = allBins.join(agg, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("_n"), lit(0L)).as("_n"),
        coalesce(col("_npos"), lit(0L)).as("_npos"))
    // Unpartitioned but BINS-BOUNDED: dense has exactly `bins` rows (a
    // query constant), so the single-task windows below are constant-size
    // at any corpus scale.
    val wSuf = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    dense
      .withColumn("tp", sum(col("_npos")).over(wSuf))
      .withColumn("_pp", sum(col("_n")).over(wSuf))
      .withColumn("_pos", sum(col("_npos")).over(wAll))
      .select(
        ceil(col("bin").cast(dec) * lit(1000000L) / lit(bins)).cast("long")
          .as("thr_ppm"),
        col("tp"), (col("_pp") - col("tp")).as("fp"),
        (col("_pos") - col("tp")).as("fn"),
        when(col("_pp") === 0L, lit(0L)).otherwise(
          floor(col("tp").cast(dec) * lit(1000000L) / col("_pp"))
            .cast("long")).as("precision_ppm"),
        when(col("_pos") === 0L, lit(0L)).otherwise(
          floor(col("tp").cast(dec) * lit(1000000L) / col("_pos"))
            .cast("long")).as("recall_ppm"),
        when(col("_pp") + col("_pos") === 0L, lit(0L)).otherwise(
          floor(col("tp").cast(dec) * lit(2000000L)
            / (col("_pp") + col("_pos"))).cast("long")).as("f1_ppm"))
  }

  /** Class-based TF-IDF top terms (c-TF-IDF — Grootendorst 2022,
    * arXiv:2203.05794 eq. 1, the BERTopic labeling stage): treat each
    * CLASS (a dedup/SemDeDup cluster id, a language, a source) as one
    * meta-document and rank its most distinctive terms —
    * score(t,c) = tf_{t,c} · ln(1 + A / f_t) with A the mean term count
    * per class and f_t the corpus frequency of t. This is how a curation
    * pipeline names what a cluster IS before deciding its sampling rate.
    *
    * Exactness: the idf enters as round(ln·, 6) (the [[bigramLmScore]]
    * ln convention) and the score is ONE long·double product rounded to
    * 6 dp — no summation-order dependence anywhere, so an oracle replays
    * it verbatim. Ties rank by term ascending.
    *
    * Scale shape: one token explode into a (class, term) count frame
    * (map-side combined); f_t and the one-row (total, #classes) frame
    * DERIVE from it (exchange reuse — text never re-shuffled); the
    * per-class top-n is [[Sampling.topKPerStratum]]'s salted two-phase
    * window, so no task ever holds a class's whole vocabulary; the final
    * rank window touches ≤ topN rows per class. Output: (cluster, term,
    * tf, score, rank ≤ topN). */
  def cTfIdfTopTerms(docs: DataFrame, clusterCol: String, textCol: String,
                     topN: Int = 10): DataFrame = {
    require(topN > 0, "cTfIdfTopTerms: topN must be positive")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(clusterCol).as("cluster"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .where(col("term") =!= "")
    val tf = toks.groupBy(col("cluster"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val ft = tf.groupBy(col("term")).agg(sum(col("tf")).as("_ft"))
    val tot = tf.agg(sum(col("tf")).as("_tot"),
      countDistinct(col("cluster")).as("_nc"))
    val idf6 = Round6.guarded(log(lit(1.0) +
      (col("_tot").cast("double") / col("_nc")) / col("_ft")),
      "cTfIdfTopTerms idf")
    val scored = tf.join(ft, Seq("term"))
      .crossJoin(broadcast(tot))
      .select(col("cluster"), col("term"), col("tf"),
        round(col("tf") * idf6, 6).as("score"))
    Sampling.topKPerStratum(scored, "cluster", "term", topN,
        Seq(col("score").desc))
      .withColumn("rank", row_number().over(Window.partitionBy(col("cluster"))
        .orderBy(col("score").desc, col("term").asc)).cast("int"))
  }

  /** Clustering-agreement metrics — Adjusted Rand Index (Hubert & Arabie
    * 1985) and Normalized Mutual Information between two cluster
    * assignments over the same ids: the standing eval when the engine
    * has SEVERAL clustering tiers (lexical CC clusters, SemDeDup cells,
    * kNN components, label-prop communities) and a pipeline needs to
    * know how much they agree before trusting one as a proxy for
    * another.
    *
    * Exactness: ARI reduces to a single integer ratio with NO division
    * until the end — with S_X = Σ x(x−1) over the contingency counts /
    * marginals, ARI = 2·(S_ij·S_n − S_a·S_b) / ((S_a+S_b)·S_n −
    * 2·S_a·S_b); every product accumulates as DECIMAL(38,0). Exactness
    * bound (r19 — the ppm scaling no longer eats 6 digits of headroom:
    * [[stagedMicroDivSql]] long-divides digit by digit, so the largest
    * intermediate is max(|num|, den)·10 rather than |num|·10⁶): the
    * products are ~4n⁴, so the 38-digit ceiling is 4·n⁴·10 < 10³⁸ ⇒
    * n ≲ 1.2·10⁹ joined rows — shard above that (under ANSI the
    * overflow raises; with ANSI off it would publish NULL). Published as SIGNED integer ppm via ONE integral division
    * (sign split so trunc ≡ floor on the non-negative denominator;
    * `div` ≡ DuckDB `//` — a rounded double ratio is the q171
    * divergence class; ARI can be negative). NMI uses integer-WEIGHTED
    * entropies (n·H = Σ aᵢ·round(ln(n/aᵢ), 6), summed as DECIMAL) so no
    * per-term fraction ever reaches round() at a concentration point;
    * nmi_ppm = (2·MIₙ·10⁶ in exact micros) div (Hₐₙ + H_bₙ in micros),
    * sign split the same way. Both publish NULL when degenerate (single
    * cluster on both sides).
    *
    * Scale shape: one inner join on the id + one map-side-combined
    * contingency groupBy (sized by distinct co-cluster PAIRS, ≤ the
    * smaller assignment's row count); marginals derive from it; output
    * is ONE row. Output: (n BIGINT, ari_ppm BIGINT, nmi_ppm BIGINT). */
  /** `(absNum·10⁶) div den` for non-negative DECIMAL(38,0) operands whose
    * magnitudes leave no headroom for the ×10⁶ — rendered as SQL that
    * never forms absNum·10⁶: textbook base-10 long division, six staged
    * digits, each stage `qᵢ = (rᵢ₋₁·10) div den`, `rᵢ = (rᵢ₋₁·10) % den`
    * with every remainder < den, so the largest intermediate is
    * max(absNum, den)·10 instead of absNum·10⁶ (r19 — recovers ARI's
    * decimal headroom: with the products ~4n⁴ the 38-digit ceiling moves
    * from 4n⁴·10⁶, n ≲ 5·10⁷, to 4n⁴·10, n ≲ 1.2·10⁹). The digit sum
    * equals the single integral division exactly (same floor of the same
    * rational); exceeding even the relaxed bound still raises under ANSI
    * rather than publishing a wrong value. Spark-side only — the oracle
    * keeps the one-shot `//` form, DuckDB's HUGEINT-backed DECIMAL does
    * not hit the intermediate ceiling at these magnitudes.
    *
    * RATIO BOUND (part of the contract, not just the test sweep): the
    * staged digits are summed as `qᵢ · 10^(6-i)`, and Spark's `div`
    * yields BIGINT, so the sum — the full micro-quotient
    * `(absNum div den) · 10⁶ + …` — must itself fit a signed long:
    * callers need `absNum/den ≲ 9.2·10¹²` (quotient × 10⁶ < 2⁶³; under
    * ANSI a larger ratio raises on the `q₁ · 10⁵` term rather than
    * wrapping). Fine for every ratio-of-comparable-magnitudes metric
    * (ARI has |num| ≤ den); NOT a general big-ratio division — for
    * absNum ≫ den·10¹² keep the operands DECIMAL end to end. */
  private[graft] def stagedMicroDivSql(absNum: String, den: String): String = {
    def r(i: Int): String =
      if (i == 0) absNum else s"((${r(i - 1)} * 10) % $den)"
    (1 to 6)
      .map(i => s"((${r(i - 1)} * 10) div $den) * ${math.pow(10, 6 - i).toLong}")
      .mkString("(", " + ", ")")
  }

  def clusterAgreement(a: DataFrame, b: DataFrame, idCol: String,
                       aCol: String, bCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val joined = a.select(col(idCol), col(aCol).as("_a"))
      .join(b.select(col(idCol), col(bCol).as("_b")), Seq(idCol))
    val cont = joined.groupBy(col("_a"), col("_b"))
      .agg(count(lit(1)).as("_nij"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Materialize NOW: six independent broadcast subtrees (marginals,
    // S-sums, MI, entropies) all derive from `cont` and otherwise START
    // concurrently against a still-lazy cache, each racing to recompute
    // the full upstream (id join + whatever produced the assignments).
    // The table is contingency-sized — the eager action is cheap.
    cont.count()
    val ai = cont.groupBy(col("_a")).agg(sum(col("_nij")).as("_ai"))
    val bj = cont.groupBy(col("_b")).agg(sum(col("_nij")).as("_bj"))
    def s2(c: Column) = sum((c.cast(dec) * (c - 1)).cast(dec))
    val sij = cont.agg(s2(col("_nij")).as("_sij"),
      sum(col("_nij")).as("_n"))
    val sa = ai.agg(s2(col("_ai")).as("_sa"))
    val sb = bj.agg(s2(col("_bj")).as("_sb"))
    // integer-weighted entropies / MI (all ln args are exact-integer
    // ratios computed in one IEEE chain; terms rounded 6 then decimal)
    val n1 = sij.select(col("_n"))
    val miN = cont.crossJoin(broadcast(n1))
      .join(broadcast(ai), Seq("_a")).join(broadcast(bj), Seq("_b"))
      .agg(sum((col("_nij") * Round6.guarded(log(
        (col("_n").cast("double") * col("_nij")) /
          (col("_ai").cast("double") * col("_bj"))), "clusterAgreement mi")
        ).cast("decimal(38,6)")).as("_min"))
    def entN(m: DataFrame, c: String) = m.crossJoin(broadcast(n1))
      .agg(sum((col(c) * Round6.guarded(
          log(col("_n").cast("double") / col(c)), "clusterAgreement ent"))
        .cast("decimal(38,6)")).as(s"_h$c"))
    val haN = entN(ai, "_ai")
    val hbN = entN(bj, "_bj")
    val num = (col("_sij").cast(dec) * col("_n").cast(dec) *
      (col("_n") - 1).cast(dec) - col("_sa") * col("_sb")) * 2
    val den = (col("_sa") + col("_sb")) * col("_n").cast(dec) *
      (col("_n") - 1).cast(dec) - col("_sa") * col("_sb") * 2
    sij.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .crossJoin(broadcast(miN)).crossJoin(broadcast(haN))
      .crossJoin(broadcast(hbN))
      .select(col("_n").as("n"), num.as("_anum"), den.as("_aden"),
        col("_min"), col("_h_ai"), col("_h_bj"))
      .select(col("n"),
        when(col("_aden") =!= 0, expr(
          s"""(case when _anum < 0 then -1L else 1L end) *
             |  ${stagedMicroDivSql("abs(_anum)", "_aden")}""".stripMargin))
          .as("ari_ppm"),
        when(col("_h_ai") + col("_h_bj") =!= 0, expr(
          """(case when _min < 0 then -1L else 1L end) *
            |  ((cast(abs(_min) * 1000000 as decimal(38,0)) * 2000000)
            |     div cast((_h_ai + _h_bj) * 1000000 as decimal(38,0)))"""
            .stripMargin))
          .as("nmi_ppm"))
  }

  /** Bradley–Terry preference-strength estimation (Bradley & Terry 1952;
    * MM updates per Hunter 2004, "MM algorithms for generalized
    * Bradley-Terry models") — the aggregation step of preference-data
    * curation: pairwise outcomes (A beat B) over items (model responses,
    * prompts, annotators) reduce to one strength per item, P(i beats j) =
    * sᵢ/(sᵢ+sⱼ). Strengths live in INTEGER MICRO-UNITS (sᵢᵘ = sᵢ·10⁶,
    * starting at 10⁶ = 1.0) and every division is integral — exactly
    * `iters` MM rounds:
    * {{{
    *   denᵢᵘ = Σⱼ (nᵢⱼ·10¹² div max(sᵢᵘ+sⱼᵘ, 1))  +  2·10¹² div (sᵢᵘ+10⁶)
    *   sᵢ'ᵘ  = (Wᵢ + 1)·10¹² div denᵢᵘ
    *   then normalized: sᵢᵘ ← (sᵢ'ᵘ·10⁶) div Σ s'ᵘ
    * }}}
    * where Wᵢ = wins, nᵢⱼ = games between i and j. The `+1 win` /
    * `+2/(sᵢ+1)` pair is one VIRTUAL win and loss against a fixed
    * strength-1 dummy — the standard regularizer that keeps an all-win
    * or all-loss item finite (without it the MLE diverges; Hunter §6).
    *
    * Determinism contract (file header): NO double ever divides — every
    * per-opponent term, the update, and the normalization are integral
    * divisions of exact DECIMAL(38,0)s (`div` ≡ DuckDB `//`, trunc ≡
    * floor on these non-negative operands) summed order-free, so `iters`
    * rounds are a pure function of the outcome multiset, bit-identical
    * across engines. (The former per-round round(double, 6) chain was
    * the q171 divergence class compounded once per round — a
    * boundary-adjacent rational at ANY round would fork the whole
    * trajectory.) The max(·,1) divisor guard covers the measure-zero
    * case of two strengths truncating to 0 micro-units.
    *
    * Scale shape: items/games tables are persisted once; each round is
    * ONE join of games against the strength vector on both endpoints +
    * one map-side-combined groupBy + a one-row normalization aggregate
    * broadcast back — the PageRank 2-shuffle round shape over the
    * comparison graph. Each round's strength vector is referenced THREE
    * times by the next (both join endpoints + the update), so lineage is
    * truncated EVERY round (the [[graft.ops.Graph.RoundStore]] contract:
    * default `localCheckpoint`, `checkpointDir` for reliable storage on a
    * real cluster) — without truncation the logical plan grows 3^iters
    * and analysis time dwarfs the data work. `iters` is small by nature
    * (MM converges geometrically; 3–10 rounds rank-stabilizes real
    * tournaments).
    *
    * `outcomes`: one row per game, `winnerCol` beat `loserCol` (any
    * key type; cast to string). Null-keyed or self-play rows dropped.
    * Output: (item STRING, games BIGINT, wins BIGINT, strength_ppm
    * BIGINT — normalized to sum ≈ 10⁶). */
  def bradleyTerry(outcomes: DataFrame, winnerCol: String, loserCol: String,
                   iters: Int = 3,
                   checkpointDir: Option[String] = None): DataFrame =
    bradleyTerryImpl(outcomes, winnerCol, loserCol, iters, checkpointDir,
      allowLocal = true)

  /** Driver budget for the local MM path: directed-pair histograms at or
    * under this many rows (item²-bounded by the op's scale contract)
    * iterate on the driver; larger item sets keep the distributed loop. */
  private[ops] val LocalBtMaxPairs = 65536

  /** [[bradleyTerry]] with the driver-local fast path switchable —
    * package-private so the spec can pin local == distributed equality. */
  private[graft] def bradleyTerryImpl(
      outcomes: DataFrame, winnerCol: String, loserCol: String,
      iters: Int, checkpointDir: Option[String],
      allowLocal: Boolean): DataFrame = {
    require(iters > 0, "bradleyTerry: iters must be positive")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val po = outcomes.select(col(winnerCol).cast("string").as("_w"),
        col(loserCol).cast("string").as("_l"))
      .where(col("_w").isNotNull && col("_l").isNotNull &&
        col("_w") =!= col("_l"))
    // ONE pass over the (possibly expensive — q152 derives it from a
    // per-user window) outcome stream: the directed-pair histogram is
    // item²-bounded, and games/wins both derive from it exactly —
    // games(i,j) = dg(i,j)+dg(j,i), wins(i) = Σ_l dg(i,l). The previous
    // shape scanned `po` three times (two union arms + the win count).
    val dg = po.groupBy(col("_w"), col("_l")).agg(count(lit(1)).as("_n"))
      .persist(MEMORY_AND_DISK)
    val games = dg.select(col("_w").as("_i"), col("_l").as("_j"), col("_n"))
      .unionAll(dg.select(col("_l").as("_i"), col("_w").as("_j"), col("_n")))
      .groupBy(col("_i"), col("_j")).agg(sum(col("_n")).as("_n"))
      .persist(MEMORY_AND_DISK)
    val wins = dg.groupBy(col("_w").as("_i")).agg(sum(col("_n")).as("_wins"))
    val base = games.groupBy(col("_i")).agg(sum(col("_n")).as("_games"))
      .join(wins, Seq("_i"), "left")
      .select(col("_i"), col("_games"),
        coalesce(col("_wins"), lit(0L)).as("_wins"))
      .persist(MEMORY_AND_DISK)
    // Driver-local MM replay (the linFit treatment): the iterate loop's
    // per-round cost at bench scale was three joins + two aggregates +
    // a lineage truncation of pure schedule latency over an item²-bounded
    // table. BIT-IDENTICAL: every distributed aggregate is an order-free
    // exact sum (BigInt here, DECIMAL(38,0) there — both exact), every
    // `div` truncates toward zero on non-negative operands ≡ BigInt `/`,
    // and a zero total raises in both paths. Spec-pinned local ==
    // distributed.
    val localPairs =
      if (allowLocal) {
        val rows = games.limit(LocalBtMaxPairs + 1).collect()
        if (rows.length <= LocalBtMaxPairs) Some(rows) else None
      } else None
    localPairs match {
      case Some(gRows) =>
        val bRows = base.collect()
        val n = bRows.length
        val idx = bRows.iterator.map(_.getString(0)).zipWithIndex.toMap
        val gArr = gRows.map(r =>
          (idx(r.getString(0)), idx(r.getString(1)), r.getLong(2)))
        val T12 = BigInt("1000000000000")
        var su = Array.fill(n)(BigInt(1000000))
        for (_ <- 1 to iters) {
          val den = Array.fill(n)(BigInt(0))
          gArr.foreach { case (i, j, nij) =>
            den(i) += (BigInt(nij) * T12) / (su(i) + su(j)).max(BigInt(1))
          }
          val upd = Array.tabulate(n)(i =>
            (BigInt(bRows(i).getLong(2) + 1L) * T12) /
              (den(i) + (BigInt(2) * T12) / (su(i) + BigInt(1000000))))
          val tot = upd.sum
          su = upd.map(s => (s * BigInt(1000000)) / tot)
        }
        val sp = outcomes.sparkSession
        import sp.implicits._
        bRows.indices.map(i => (bRows(i).getString(0), bRows(i).getLong(1),
            bRows(i).getLong(2), su(i).longValue))
          .toDF("item", "games", "wins", "strength_ppm")
      case None =>
        bradleyTerryDistributed(games, base, iters, checkpointDir)
    }
  }

  private def bradleyTerryDistributed(
      games: DataFrame, base: DataFrame, iters: Int,
      checkpointDir: Option[String]): DataFrame = {
    val store = new Graph.RoundStore(checkpointDir, "bt")
    var cur = base.withColumn("_su", lit(1000000L))
    for (_ <- 1 to iters) {
      val sj = cur.select(col("_i").as("_j"), col("_su").as("_sju"))
      val den = games
        .join(cur.select(col("_i"), col("_su")), Seq("_i"))
        .join(sj, Seq("_j"))
        .groupBy(col("_i"))
        .agg(sum(expr(
          """(cast(_n as decimal(38,0)) * 1000000000000)
            |  div greatest(_su + _sju, 1L)""".stripMargin)
          .cast("decimal(38,0)")).as("_denu"))
      val upd = cur.join(den, Seq("_i"))
        .select(col("_i"), col("_games"), col("_wins"),
          expr(
            """(cast(_wins + 1L as decimal(38,0)) * 1000000000000)
              |  div (_denu + (cast(2 as decimal(38,0)) * 1000000000000)
              |         div (_su + 1000000L))""".stripMargin).as("_su"))
      val tot = upd.agg(sum(col("_su").cast("decimal(38,0)")).as("_totu"))
      cur = store.truncate(upd.crossJoin(broadcast(tot))
        .select(col("_i"), col("_games"), col("_wins"),
          expr("(cast(_su as decimal(38,0)) * 1000000) div _totu")
            .as("_su")))
    }
    cur.select(col("_i").as("item"), col("_games").as("games"),
      col("_wins").as("wins"), col("_su").as("strength_ppm"))
  }

  /** Pairwise Cohen's kappa (Cohen 1960) over an annotation table — the
    * inter-annotator QC matrix of a labeling operation: which rater
    * pairs agree beyond chance, which annotator drifts. One row per
    * rater pair (a < b) over the items BOTH rated: `n` co-rated items,
    * observed agreement, and kappa = (p_o − p_e)/(1 − p_e) with p_e the
    * chance agreement from each rater's label marginals WITHIN the
    * shared item set (the standard per-pair conditioning).
    *
    * Exactness (the [[clusterAgreement]] ARI discipline): kappa reduces
    * to ONE integer ratio — (n·agree − Σ_c naᶜ·nbᶜ) / (n² − Σ_c naᶜ·nbᶜ)
    * — accumulated as DECIMAL(38,0) and published as SIGNED integer ppm:
    * sign(num) · ((|num|·10⁶) div den), one integral division of exact
    * integers (`div` ≡ DuckDB `//`; operands kept non-negative so trunc
    * ≡ floor, the sign reapplied after → trunc-toward-zero quantization
    * on both engines). Kappa can be negative (worse than chance), which
    * is why the sign is split out rather than relying on the engines'
    * negative-division conventions. Never a rounded double — a rounded
    * rational ratio is the cross-engine divergence class that bit q171
    * (see [[graft.ops.Round6]]). NULL when the denominator is 0 (both
    * raters constant with identical marginals — chance agreement is 1,
    * kappa undefined).
    *
    * Precondition: ≤ one rating per (item, rater) — dedupe upstream
    * (e.g. [[graft.ops.Ops.firstPerGroup]] on rating time) or pairs
    * double-count. Scale shape: one self-join shuffled on the item
    * (per-item work bounded by raters-per-item², an annotation-design
    * constant, never corpus-sized), then every aggregate is sized by
    * rater-pairs × classes. Output: (rater_a, rater_b, n BIGINT,
    * agree BIGINT, kappa_ppm BIGINT). */
  def cohenKappaPairs(ratings: DataFrame, itemCol: String, raterCol: String,
                      labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val r = ratings.select(col(itemCol).as("_i"), col(raterCol).as("_r"),
      col(labelCol).as("_l"))
    val pairs = r.as("x").join(r.as("y"),
        col("x._i") === col("y._i") && col("x._r") < col("y._r"))
      .select(col("x._r").as("rater_a"), col("y._r").as("rater_b"),
        col("x._l").as("_la"), col("y._l").as("_lb"))
    val base = pairs.groupBy(col("rater_a"), col("rater_b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_la") === col("_lb"), 1L).otherwise(0L)).as("agree"))
    val ma = pairs.groupBy(col("rater_a"), col("rater_b"), col("_la").as("_c"))
      .agg(count(lit(1)).as("_na"))
    val mb = pairs.groupBy(col("rater_a"), col("rater_b"), col("_lb").as("_c"))
      .agg(count(lit(1)).as("_nb"))
    val pe = ma.join(mb, Seq("rater_a", "rater_b", "_c"))
      .groupBy(col("rater_a"), col("rater_b"))
      .agg(sum((col("_na").cast(dec) * col("_nb")).cast(dec)).as("_pen"))
    val num = col("n").cast(dec) * col("agree").cast(dec) - col("_pen")
    val den = col("n").cast(dec) * col("n").cast(dec) - col("_pen")
    base.join(pe, Seq("rater_a", "rater_b"))
      .select(col("rater_a"), col("rater_b"), col("n"), col("agree"),
        num.as("_num"), den.as("_den"))
      .select(col("rater_a"), col("rater_b"), col("n"), col("agree"),
        when(col("_den") =!= 0, expr(
          """(case when _num < 0 then -1L else 1L end) *
            |  ((abs(_num) * 1000000) div _den)""".stripMargin))
          .as("kappa_ppm"))
  }

  /** nDCG@k (Järvelin & Kekäläinen 2002) per query — the graded-
    * relevance retrieval eval that closes the ranking-eval tier
    * ([[graft.ops.Similarity]] recall audit q149 = binary hit rate,
    * rankBiasedOverlap q160 = ranking-vs-ranking; this is
    * ranking-vs-labels): DCG@k = Σ_{i≤k} relᵢ/log₂(i+1) over the run's
    * ranks, IDCG@k the same formula over the label set's best-possible
    * ordering (rel desc, doc asc tie-break — trec_eval semantics:
    * unlabeled run docs gain 0, IDCG from ALL labeled docs), ndcg =
    * DCG/IDCG.
    *
    * Determinism: gain terms are NOT computed with `ln()` at run time —
    * round(rel·ln2/ln(pos+1), 6) is a cross-libm ulp hazard (two libms
    * can legitimately round the last digit differently; this bit the
    * round-15 driver run). Instead every gain is a COMPILE-TIME LITERAL
    * from [[ndcgGainTable]] (rel ∈ 1..maxRel × pos ∈ 1..k values, the
    * rboTail / BenfordPpm shared-constant pattern — an external SQL
    * oracle interpolates the identical literals via [[ndcgGainCaseSql]]),
    * summed as DECIMAL(18,6) (exact, order-free). The published ratio is
    * NOT a rounded double (that bit the round-15 AND round-16 driver
    * runs: dcg/idcg are ratios of exact 6-dp decimals — small-
    * denominator rationals that can land within a half-ulp of a 0.5e-6
    * HALF_UP boundary, where two engines' round-6 legitimately
    * disagrees) — it is `ndcg_ppm = (dcg·10⁶) div idcg` in exact
    * DECIMAL(38,0) micros: ONE integral division (`div` ≡ DuckDB `//`;
    * trunc ≡ floor on the non-negative ratio), environment-independent
    * by construction (the q200 gini pattern). NULL when IDCG = 0 (no
    * positive label). A rel above `maxRel` raises (raise_error) rather
    * than silently scoring 0.
    *
    * Scale shape: run rows filter to rank ≤ k before the label join
    * (broadcast-eligible eval set); the ideal ranking windows over ONE
    * QUERY'S labels (eval-design bounded, never corpus-sized) — salted
    * two-phase ranking is deliberately NOT used because label sets are
    * small by construction; output is queries × 1. Output: (queryCol,
    * dcg_u BIGINT, idcg_u BIGINT, ndcg_ppm BIGINT) — dcg/idcg are
    * exact 6-dp decimal sums internally but PUBLISH as micro-unit
    * BIGINTs (`cast(dcg·10⁶ as bigint)`, lossless): no DECIMAL ever
    * leaves a declared query (the
    * [[graft.queries.RelationalQueries.moneyStr]] contract — the
    * driver's hasher canonicalizes decimal columns asymmetrically per
    * engine, so identical decimal VALUES hash-differ at the type
    * level; this, not arithmetic, kept q171 red rounds 15–17). */
  def ndcgAtK(runs: DataFrame, queryCol: String, docCol: String,
              rankCol: String, qrels: DataFrame, relCol: String,
              k: Int, maxRel: Int = 3): DataFrame = {
    require(k > 0, "k must be positive")
    require(maxRel > 0, "maxRel must be positive")
    import org.apache.spark.sql.expressions.Window
    val table = ndcgGainTable(maxRel, k)
    def gain(rel: Column, pos: Column): Column = {
      val guarded = when(rel > maxRel, raise_error(concat(
        lit(s"ndcgAtK: rel exceeds maxRel=$maxRel: "), rel.cast("string")))
        .cast("double"))
      val chained = table.foldLeft(guarded) { case (acc, ((r, p), g)) =>
        acc.when(rel === r && pos === p, lit(g.toDouble))
      }
      chained.otherwise(lit(0.0)).cast("decimal(18,6)")
    }
    val labels = qrels.select(col(queryCol), col(docCol),
      col(relCol).as("_rel"))
    val dcg = runs.where(col(rankCol) <= k)
      .join(labels, Seq(queryCol, docCol), "left")
      .na.fill(0L, Seq("_rel"))
      .groupBy(col(queryCol))
      .agg(sum(gain(col("_rel"), col(rankCol))).cast("decimal(18,6)")
        .as("dcg"))
    val iw = Window.partitionBy(col(queryCol))
      .orderBy(col("_rel").desc, col(docCol).asc)
    val idcg = labels.withColumn("_ipos", row_number().over(iw))
      .where(col("_ipos") <= k)
      .groupBy(col(queryCol))
      .agg(sum(gain(col("_rel"), col("_ipos"))).cast("decimal(18,6)")
        .as("idcg"))
    dcg.join(idcg, Seq(queryCol))
      .select(col(queryCol),
        expr("cast(dcg * 1000000 as bigint)").as("dcg_u"),
        expr("cast(idcg * 1000000 as bigint)").as("idcg_u"),
        when(col("idcg") > 0, expr(
          """(cast(dcg * 1000000 as decimal(38,0)) * 1000000)
            |  div cast(idcg * 1000000 as decimal(38,0))""".stripMargin))
          .as("ndcg_ppm"))
  }

  /** The literal gain table behind [[ndcgAtK]]: ((rel, pos) →
    * round(rel·ln2/ln(pos+1), 6)) for rel ∈ 1..maxRel, pos ∈ 1..k —
    * computed ONCE on the JVM (StrictMath, platform-independent by
    * spec) and baked into both the Spark plan and the SQL oracle as
    * plain 6-dp decimals, so no engine evaluates `ln()` at query time
    * (the cross-libm ulp hazard; rel = 0 gains 0 and is omitted). */
  private[graft] def ndcgGainTable(maxRel: Int,
                                   k: Int): Seq[((Int, Int), BigDecimal)] =
    for { r <- 1 to maxRel; p <- 1 to k } yield (r, p) ->
      BigDecimal(r * StrictMath.log(2.0) / StrictMath.log(p + 1.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)

  /** SQL CASE over [[ndcgGainTable]]'s literals for an external oracle —
    * the shared-constant lockstep convention (rboTail, BenfordPpm).
    * `relExpr`/`posExpr` are SQL fragments naming the relevance grade
    * and 1-based position. */
  private[graft] def ndcgGainCaseSql(relExpr: String, posExpr: String,
                                     maxRel: Int, k: Int): String =
    ndcgGainTable(maxRel, k).map { case ((r, p), g) =>
      s"WHEN $relExpr = $r AND $posExpr = $p THEN CAST($g AS DECIMAL(18,6))"
    }.mkString("CASE ", " ", " ELSE CAST(0 AS DECIMAL(18,6)) END")

  /** MAP / MRR @k per query — the binary-relevance companions to
    * [[ndcgAtK]] (the three standard ranking evals together: nDCG for
    * graded labels, AP for ranked coverage, RR for first-hit latency).
    * A run doc is a HIT when its label has `relCol` > 0 (graded labels
    * binarize, trec_eval-style). Everything is PURE INTEGER ppm — no
    * double ever divides (a published rounded rational ratio is the
    * cross-engine divergence class that bit q171; `div` ≡ DuckDB `//`,
    * trunc ≡ floor on these non-negative ratios). Per query:
    *  - `rr_ppm` = 10⁶ div rank_of_first_hit, 0 when no hit in the
    *    top k;
    *  - `ap_ppm` = (Σ_{hit at rank i} (hits≤i · 10⁶ div i)) div
    *    min(R, k) with R = positives in the LABEL set (docs the run
    *    missed count against it); precision terms are exact integral
    *    micro-units summed as BIGINT (trunc quantization per term — ≤ 1
    *    ppm below the real ratio, identically on both engines); NULL
    *    when R = 0 (no positive label — undefined, matching
    *    [[ndcgAtK]]'s NULL).
    *
    * Scale shape: run rows filter to rank ≤ k before the label join,
    * the cumulative-hit window orders ONE QUERY'S ≤ k run rows (k is an
    * eval constant), and R comes from one label-set aggregate. Output:
    * (queryCol, n_rel BIGINT, hits BIGINT, rr_ppm BIGINT, ap_ppm
    * BIGINT). */
  def mapMrrAtK(runs: DataFrame, queryCol: String, docCol: String,
                rankCol: String, qrels: DataFrame, relCol: String,
                k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val labels = qrels.select(col(queryCol), col(docCol),
      (col(relCol) > 0).cast("int").as("_pos"))
    val nRel = labels.groupBy(col(queryCol))
      .agg(sum(col("_pos")).cast("long").as("n_rel"))
    val w = Window.partitionBy(col(queryCol)).orderBy(col(rankCol).asc)
    val scored = runs.where(col(rankCol) <= k)
      .join(labels, Seq(queryCol, docCol), "left")
      .na.fill(0, Seq("_pos"))
      .withColumn("_cum", sum(col("_pos")).over(w))
    val perQ = scored
      .withColumn("_pterm",
        expr(s"cast(_cum as bigint) * cast(1000000 as bigint)" +
          s" div cast(`$rankCol` as bigint)"))
      .groupBy(col(queryCol))
      .agg(
        sum(col("_pos")).cast("long").as("hits"),
        min(when(col("_pos") === 1, col(rankCol))).as("_first"),
        sum(when(col("_pos") === 1, col("_pterm"))).as("_psum"))
    nRel.join(perQ, Seq(queryCol), "left")
      .select(col(queryCol), col("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        coalesce(expr("cast(1000000 as bigint) div cast(_first as bigint)"),
          lit(0L)).as("rr_ppm"),
        when(col("n_rel") > 0,
          expr(s"coalesce(_psum, 0L) div least(n_rel, ${k}L)"))
          .as("ap_ppm"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — merge several ranked
    * runs per query into one ranking without score calibration: each
    * source contributes floor(10⁶ / (k + rank)) micro-units for a doc it
    * ranked (the classic 1/(k+rank) with k = 60, held in EXACT integers
    * — floored division, exact sums, no float ever aggregates), docs are
    * re-ranked per query by (fused score desc, doc asc). The standard
    * way to combine e.g. a lexical run (BM25 / the inverted index) with
    * a vector run (ANN serving) — rank positions fuse even though the
    * raw scores are incomparable.
    *
    * Scale shape: input is runs already truncated to their own top-k, so
    * per-query candidate sets are ≤ k·sources rows — the fusion groupBy
    * combines map-side and the per-query re-rank window orders a
    * bounded frame (an eval/serving constant, the [[ndcgAtK]] argument).
    * Output: (queryCol, docCol, rrf_micro BIGINT, fused_rank BIGINT ≤
    * topK). */
  def rrfFuse(runs: DataFrame, queryCol: String, docCol: String,
              rankCol: String, k: Int = 60, topK: Int = 10): DataFrame = {
    require(k >= 0, "rrfFuse: k must be >= 0")
    require(topK > 0, "rrfFuse: topK must be positive")
    import org.apache.spark.sql.expressions.Window
    val fused = runs
      .select(col(queryCol), col(docCol),
        expr(s"CAST(1000000 AS BIGINT) div ($k + $rankCol)").as("_c"))
      .groupBy(col(queryCol), col(docCol))
      .agg(sum(col("_c")).as("rrf_micro"))
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col("rrf_micro").desc, col(docCol).asc)
    fused.withColumn("fused_rank", row_number().over(w).cast("long"))
      .where(col("fused_rank") <= topK)
  }
}
