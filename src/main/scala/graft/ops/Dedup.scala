package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Caches, Rounds}
import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB path:
  *
  *  - exact: group on a 128-bit content fingerprint (never on the body —
  *    the shuffle key stays 16 bytes/row regardless of document size);
  *  - MinHash + LSH: shingles are exploded and hashed to 64-bit longs
  *    immediately, so every downstream shuffle moves 16-byte rows, never
  *    text. All k signature mins are computed as codegen'd `min()`
  *    aggregates in ONE groupBy (map-side partial aggregation), band
  *    bucketing runs on (id, band, bucket) rows only, and candidate pairs
  *    are verified with exact Jaccard over per-doc hash sets joined back in
  *    at the end — output precision 1.0;
  *  - exact n-gram Jaccard: the quadratic-free formulation — explode
  *    shingles, self-join on the 64-bit shingle hash (co-partitioned hash
  *    join of long keys), count intersections per pair — never materializes
  *    the full doc×doc matrix;
  *  - SimHash: 64 per-bit majority votes as codegen'd `sum()` aggregates in
  *    one groupBy, near-dup candidates via 16-bit chunk banding (Hamming ≤ 3
  *    guarantees ≥ 1 equal chunk of 4 by pigeonhole).
  *
  * Everything stays inside whole-stage codegen: no UDFs, and no interpreted
  * higher-order functions in the per-shingle/per-token hot path (those are
  * reserved for small per-row arrays like the k-element signature).
  */
object Dedup {

  /** Drop every intermediate the engine has pinned so far — a forward to
    * [[Caches.release]], kept for embedders that call it by this name. */
  def releaseCaches(): Unit = Caches.release()

  // ── MinHash ────────────────────────────────────────────────────────────

  /** Deterministic permutation parameters (a, b) for (a*h + b) mod P.
    * a,b < 2^20 keep a*h32 + b < 2^52 — no long overflow under ANSI mode. */
  private def perms(k: Int): (Seq[Long], Seq[Long]) = {
    val rnd = new scala.util.Random(42)
    val a = Seq.fill(k)((rnd.nextInt(1 << 20) | 1).toLong)
    val b = Seq.fill(k)(rnd.nextInt(1 << 20).toLong)
    (a, b)
  }

  private val Prime = (1L << 31) - 1 // Mersenne prime 2^31-1

  /** (doc, shingle-hash) pairs: one row per distinct shingle, the shingle
    * replaced by a 64-bit hash — 16 bytes/row through every later shuffle
    * regardless of document size. 64-bit identity keeps the collision
    * probability negligible (p ≈ n²/2⁶⁴), so set sizes and intersections
    * over the hashes equal those over the strings. Hashing happens inside
    * [[graft.plans.ShingleHash64]] — one codegen'd pass, no shingle-string
    * materialization.
    *
    * The COMPACT TEXT is repartitioned by doc id BEFORE exploding: the
    * projection preserves hash partitioning on `_id`, so the downstream
    * per-doc groupBy aggregates in place instead of shuffling the exploded
    * hash rows — and the shuffled payload is the ~300 B text, not the ~16×
    * larger shingle set. (It also decouples CPU-heavy shingling from the
    * source's row-group count — a one-row-group parquet otherwise pins the
    * whole pass to one task.) */
  private[ops] def shingleHashes(docs: DataFrame, idCol: String, textCol: String,
                            shingleN: Int): DataFrame =
    docs.repartition(col(idCol)).select(
        col(idCol).as("_id"),
        explode(graft.plans.ShingleHash64(col(textCol), shingleN)).as("_h"))

  /** Per-doc state in ONE shuffle on _id: set size, the hash set itself
    * (for exact verification, ascending-sorted for the two-pointer merge),
    * and the whole k-wide minhash signature as ONE imperative aggregate
    * ([[graft.plans.MinHashSigAgg]] — k separate min() columns made the
    * generated plan seconds-slow to janino-compile). */
  private def minHashPerDoc(hashes: DataFrame, k: Int): DataFrame = {
    val (as, bs) = perms(k)
    hashes.groupBy(col("_id")).agg(
      count(lit(1)).as("_n"),
      sort_array(collect_list(col("_h"))).as("_hs"),
      graft.plans.MinHashSigAgg(col("_h"), k, as, bs, Prime).as("_sig"))
  }

  /** LSH band hashes: signature sliced into `bands` bands of `rows` values,
    * each band reduced to one 64-bit bucket key. xxhash64 hashes the long
    * array directly — no per-band string materialization. */
  def bandHashes(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), j =>
      xxhash64(slice(sig, j * rows + 1, lit(rows))))

  /** Candidate near-dup pairs from MinHash LSH, verified with exact Jaccard
    * over the shingle-hash sets, keeping pairs with jaccard >= threshold.
    * Output: (doc_a, doc_b, jaccard), doc_a < doc_b.
    *
    * Bucket-size note for the 100 TB path: a degenerate band value (e.g. all
    * empty docs) would make one bucket quadratic; `maxBucket` drops buckets
    * larger than that bound (they are near-certain junk clusters). */
  def minHashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 8, k: Int = 64,
                      bands: Int = 16, rows: Int = 4,
                      threshold: Double = 0.8,
                      maxBucket: Int = 1000): DataFrame = {
    // The per-doc signature table is referenced three times (banding +
    // both verify joins); pin it so the shingle explode + groupBy runs
    // once. It is the compressed working set — ~100× smaller than the text.
    selfPairs(Caches.pin(
        minHashPerDoc(shingleHashes(docs, idCol, textCol, shingleN), k)),
      bands, rows, threshold, maxBucket)
  }

  /** [[minHashLshPairs]] over a pinned per-doc signature table. */
  private def selfPairs(perDoc: DataFrame, bands: Int, rows: Int,
                        threshold: Double, maxBucket: Int): DataFrame = {
    // Banding runs on (id, band, bucket) rows — 24 bytes, no arrays.
    val banded = perDoc.select(col("_id"),
      posexplode(bandHashes(col("_sig"), bands, rows)).as(Seq("_band", "_bh")))
    // Degenerate-bucket guard as partial-aggregate + broadcast anti-join:
    // a count() window over (_band,_bh) would re-shuffle EVERY banded row
    // just to learn its bucket size; the oversized-bucket set is tiny by
    // construction (only junk clusters exceed maxBucket), so aggregate the
    // sizes (map-side combine) and anti-join the handful of bad keys back.
    val oversized = banded.groupBy(col("_band"), col("_bh"))
      .agg(count(lit(1)).as("_bsz")).where(col("_bsz") > maxBucket)
      .select(col("_band"), col("_bh"))
    val bounded = banded.join(broadcast(oversized), Seq("_band", "_bh"), "left_anti")
    val cand = bounded.as("x").join(bounded.as("y"), Seq("_band", "_bh"))
      .where(col("x._id") < col("y._id"))
      .select(col("x._id").as("doc_a"), col("y._id").as("doc_b"))
      .distinct()
    // Exact verification: hash sets joined back in only for candidates,
    // intersection computed once.
    val sets = perDoc.select(col("_id"), col("_n"), col("_hs"))
    verifyPairs(cand, sets, threshold)
  }

  /** The per-doc MinHash SIGNATURE TABLE — (_id, _n, _hs, _sig): set size,
    * sorted shingle-hash set (for exact verification) and the k-wide
    * signature. This is the thing a 100 TB pipeline computes ONCE per
    * corpus and WRITES (parquet, partitioned however the ingest shards),
    * then reuses for every incoming batch via
    * [[minHashLshPairsAgainstSignatures]] — batch runs never rescan or
    * re-shingle corpus text. ~100× smaller than the text it summarizes. */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 8, k: Int = 64): DataFrame =
    minHashPerDoc(shingleHashes(docs, idCol, textCol, shingleN), k)

  /** Incremental near-dedup: match a NEW batch against an EXISTING corpus
    * (bipartite LSH join) instead of re-deduping everything — the shape a
    * 100 TB ingestion pipeline actually runs: per-batch cost scales with
    * the batch, not the corpus. This entry recomputes corpus signatures
    * from text for self-containment; the scale path precomputes them with
    * [[minHashSignatures]] and calls [[minHashLshPairsAgainstSignatures]].
    * Output: (new_id, corpus_id, jaccard) for exact-verified pairs >=
    * threshold. The two id spaces must be disjoint. */
  def minHashLshPairsAgainst(newDocs: DataFrame, corpus: DataFrame,
                             idCol: String, textCol: String,
                             shingleN: Int = 8, k: Int = 64,
                             bands: Int = 16, rows: Int = 4,
                             threshold: Double = 0.8,
                             maxBucket: Int = 1000): DataFrame = {
    val corPer = Caches.pin(
      minHashPerDoc(shingleHashes(corpus, idCol, textCol, shingleN), k))
    minHashLshPairsAgainstSignatures(newDocs, corPer, idCol, textCol,
      shingleN, k, bands, rows, threshold, maxBucket)
  }

  /** The persisted-signature batch path: join a new batch (text) against a
    * PRECOMPUTED corpus signature table ([[minHashSignatures]] output, read
    * back from storage). The batch run's scan set is the batch text plus
    * the signature table only — corpus text is never read, so per-batch IO
    * is O(batch + signatures), the 100 TB ingestion contract. */
  def minHashLshPairsAgainstSignatures(newDocs: DataFrame, corpusSigs: DataFrame,
                                       idCol: String, textCol: String,
                                       shingleN: Int = 8, k: Int = 64,
                                       bands: Int = 16, rows: Int = 4,
                                       threshold: Double = 0.8,
                                       maxBucket: Int = 1000): DataFrame =
    crossPairs(Caches.pin(
        minHashPerDoc(shingleHashes(newDocs, idCol, textCol, shingleN), k)),
      corpusSigs, bands, rows, threshold, maxBucket)

  /** A new batch's near-dup pairs in one pass over its text: against the
    * stored corpus signatures (as [[minHashLshPairsAgainstSignatures]],
    * new_id → doc_a, corpus_id → doc_b) and within the batch (as
    * [[minHashLshPairs]]). Output: (doc_a, doc_b) — the edge input of
    * [[clusterIndexAppend]]. The batch signature table is built and pinned
    * once for both halves. */
  def minHashLshBatchPairs(newDocs: DataFrame, corpusSigs: DataFrame,
                           idCol: String, textCol: String,
                           shingleN: Int = 8, k: Int = 64,
                           bands: Int = 16, rows: Int = 4,
                           threshold: Double = 0.8,
                           maxBucket: Int = 1000): DataFrame = {
    val newPer = Caches.pin(
      minHashPerDoc(shingleHashes(newDocs, idCol, textCol, shingleN), k))
    crossPairs(newPer, corpusSigs, bands, rows, threshold, maxBucket)
      .select(col("new_id").as("doc_a"), col("corpus_id").as("doc_b"))
      .unionAll(selfPairs(newPer, bands, rows, threshold, maxBucket)
        .select(col("doc_a"), col("doc_b")))
  }

  /** [[minHashLshPairsAgainstSignatures]] over a pinned batch signature
    * table. */
  private def crossPairs(newPer: DataFrame, corpusSigs: DataFrame,
                         bands: Int, rows: Int, threshold: Double,
                         maxBucket: Int): DataFrame = {
    def band(df: DataFrame) = df.select(col("_id"),
      posexplode(bandHashes(col("_sig"), bands, rows)).as(Seq("_band", "_bh")))
    // Hot-bucket guard on the CORPUS side (the big one): a degenerate
    // bucket there multiplies against every colliding new doc.
    val corBanded = band(corpusSigs)
    val oversized = corBanded.groupBy(col("_band"), col("_bh"))
      .agg(count(lit(1)).as("_bsz")).where(col("_bsz") > maxBucket)
      .select(col("_band"), col("_bh"))
    val corBounded = corBanded.join(broadcast(oversized), Seq("_band", "_bh"), "left_anti")
    val cand = band(newPer).as("x").join(corBounded.as("y"), Seq("_band", "_bh"))
      .select(col("x._id").as("doc_a"), col("y._id").as("doc_b"))
      .distinct()
    val sets = newPer.select(col("_id"), col("_n"), col("_hs"))
      .unionByName(corpusSigs.select(col("_id"), col("_n"), col("_hs")))
    verifyPairs(cand, sets, threshold)
      .select(col("doc_a").as("new_id"), col("doc_b").as("corpus_id"),
        col("jaccard"))
  }

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs against
    * per-doc SORTED hash sets: intersection via the codegen'd two-pointer
    * merge (no boxed hash set per pair — the measured hot path at millions
    * of candidates). */
  private def verifyPairs(cand: DataFrame, sets: DataFrame,
                          threshold: Double): DataFrame =
    cand
      .join(sets.select(col("_id").as("doc_a"), col("_n").as("_na"), col("_hs").as("_ha")), "doc_a")
      .join(sets.select(col("_id").as("doc_b"), col("_n").as("_nb"), col("_hs").as("_hb")), "doc_b")
      .withColumn("_c",
        graft.plans.SortedLongIntersectCount(col("_ha"), col("_hb")))
      .withColumn("jaccard",
        col("_c").cast("double") / (col("_na") + col("_nb") - col("_c")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Exact n-gram Jaccard near-dup pairs via prefix filtering (the All-Pairs
    * / SSJoin scheme) — lossless for jaccard >= threshold, and the only
    * formulation that survives 100 TB:
    *
    * A naive shingle equi-join produces Σ df(g)² rows (561M already at
    * sf0.1 because common 8-grams appear in thousands of docs). Instead,
    * order each doc's shingles by global document frequency (rarest first;
    * ties by hash — a total order shared by all docs) and join ONLY on each
    * doc's first `n - ⌈t·n⌉ + 1` shingles: any pair with J >= t must share
    * its order-smallest common shingle inside BOTH prefixes (else either
    * side has more than n - ⌈t·n⌉ non-shared elements, contradicting
    * |x∩y| >= ⌈t·max(|x|,|y|)⌉ which J >= t implies). Candidates are then
    * length-filtered (min >= ⌈t·max⌉) and verified with one exact
    * intersection — output identical to the naive join, work proportional
    * to genuinely-rare shared shingles. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 8, threshold: Double = 0.8): DataFrame = {
    // Evaluated three times (document-frequency aggregation, the prefix
    // ranking, the verify sets); pin so the text is shingled and
    // hashed once.
    val sh = Caches.pin(shingleHashes(docs, idCol, textCol, shingleN))
    // Only hashes appearing in >= 2 docs need an explicit df — the long
    // tail of unique shingles (the bulk of the corpus) defaults to df=1 via
    // the left join + coalesce. That shrinks the join's build side from
    // every distinct shingle to just the shared ones, so AQE can broadcast
    // it instead of re-shuffling all shingle rows by hash.
    val df = sh.groupBy(col("_h")).agg(count(lit(1)).as("_df0"))
      .where(col("_df0") > 1)
    // Prefix selection as a per-doc WINDOW rank over (df, h) — sh is
    // already hash-partitioned by _id (see shingleHashes), so both windows
    // plan with NO shuffle and one in-partition sort of primitive longs.
    // (The previous collect_list(struct)+sort_array+slice+explode round
    // trip burned ~10 s of CPU at sf0.1 sorting 1.3M structs.)
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("_id"))
    val wRank = wDoc.orderBy(col("_df"), col("_h"))
    // Filters below must be LOSSLESS (the verify pass only removes false
    // positives — a false negative is a wrong answer). Binary doubles make
    // e.g. 0.8*35 = 28.000000000000004, whose ceil spuriously rounds a
    // satisfied bound to unsatisfied; nudge every ceil'd product down by an
    // epsilon far below the 1-ulp-of-an-int scale so exact-boundary pairs
    // (J == t precisely) survive.
    val Eps = 1e-9
    // The final `_df > 1` conjunct is exact, not a heuristic: the self-join
    // matches rows on _h, and a df=1 hash exists in exactly one doc — its
    // only match is itself, killed by x._id < y._id. Since the first common
    // shingle of any qualifying pair has df >= 2 by definition, dropping
    // unique-hash rows from the join input loses no candidate — and on a
    // realistic corpus the unique tail dominates the prefix, so the
    // persisted frame and the join both shrink by most of their rows.
    // (Ranks/sizes are computed BEFORE the filter, over the full sets.)
    // Referenced by both sides of the candidate self-join: pin the
    // shared-hash prefix rows so the df join + ranking windows run once,
    // not once per side.
    val pre = Caches.pin(sh.join(df, Seq("_h"), "left")
      .withColumn("_df", coalesce(col("_df0"), lit(1L))).drop("_df0")
      .withColumn("_rk", row_number().over(wRank))
      .withColumn("_n", count(lit(1)).over(wDoc))
      .where(col("_rk") <=
        (col("_n") - ceil(col("_n") * lit(threshold) - lit(Eps)) + 1).cast("int") &&
        col("_df") > 1)
      .select(col("_id"), col("_n"), col("_h"), col("_rk")))
    // PPJoin positional filter on top of the prefix match: a doc's
    // rank-_rk shingle has only n - _rk shingles after it in the global
    // (df, hash) order, and every common shingle of a candidate pair sits
    // at-or-after the pair's first common one — so the overlap is at most
    // min(nx - rx, ny - ry) + 1. J >= t forces the overlap to at least
    // t/(1+t) * (nx+ny); pairs whose positional ceiling can't reach that
    // are dead on arrival, before the (expensive) verify join. Measured at
    // sf0.1: 3.88M -> 276k candidate rows (14x) for identical output.
    val needOverlap = lit(threshold / (1.0 + threshold))
    val cand = pre.as("x").join(pre.as("y"), col("x._h") === col("y._h"))
      .where(col("x._id") < col("y._id") &&
        least(col("x._n"), col("y._n")) >=
          ceil(greatest(col("x._n"), col("y._n")) * lit(threshold) - lit(Eps)) &&
        (least(col("x._n") - col("x._rk"), col("y._n") - col("y._rk")) + 1)
          .cast("double") >= needOverlap * (col("x._n") + col("y._n")) - lit(Eps))
      .select(col("x._id").as("doc_a"), col("y._id").as("doc_b"))
      .distinct()
    // Verification merge input: ascending hash sets, primitive-long sort.
    // Referenced by both verify joins.
    val sets = Caches.pin(sh.groupBy(col("_id")).agg(count(lit(1)).as("_n"),
        sort_array(collect_list(col("_h"))).as("_hs")))
    verifyPairs(cand, sets, threshold)
  }

  /** CONTAINMENT near-dup pairs — |A∩B| / min(|A|,|B|) >= threshold — the
    * ASYMMETRIC relation symmetric Jaccard misses: a truncated shard or a
    * long doc quoting a short one wholesale has containment ~1.0 but tiny
    * Jaccard (the union is dominated by the larger doc), so Jaccard dedup
    * keeps both copies. Output: (doc_a, doc_b, containment), doc_a < doc_b,
    * exact (verified with one intersection per candidate).
    *
    * Prefix filtering adapts to the asymmetry: the overlap bound
    * c >= ⌈t·|A|⌉ lives entirely on the SMALLER set, so only the smaller
    * side's rarest-first prefix joins — against every doc's SHARED-HASH
    * rows (df > 1; the unique tail joins nothing and is dropped from both
    * sides — see below). The prefix is rare-by-construction, so
    * Σ pref(g)·df(g) stays near-linear. Lossless: a pair
    * with containment >= t shares its order-first common shingle inside the
    * smaller side's first n-⌈t·n⌉+1 shingles (else the smaller side has
    * more than n-⌈t·n⌉ non-shared elements — contradiction), and that
    * shingle's joined row passes the y-side positional bound
    * (overlap <= ny-ry+1) by the same first-common argument.
    *
    * HOT-HASH GUARD (the 100 TB skew defense): unlike the Jaccard path,
    * the y side here keeps EVERY shared-hash row, so one viral boilerplate
    * 8-gram (license header, template banner; df 10⁶⁺ in a web corpus)
    * would land its whole df on a single join key — a one-task straggler.
    * Hashes with df > `maxDf` are SALTED across ⌈df/maxDf⌉ sub-keys:
    * y-side rows spread deterministically by doc id, x-side prefix rows
    * replicate across all sub-keys of their hash. Every original (x, y)
    * hash match survives in exactly one salted key — the guard is
    * LOSSLESS, it only re-shapes the shuffle so no task sees more than
    * ~maxDf y-rows per key. The hot-hash dim table is bounded by
    * Σdf/maxDf rows (≤ 10⁷ at 10¹² shingle instances and the default
    * bound) — broadcast-sized by construction. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 8, threshold: Double = 0.9,
                       maxDf: Int = 100000): DataFrame = {
    val sh = Caches.pin(shingleHashes(docs, idCol, textCol, shingleN))
    val df = sh.groupBy(col("_h")).agg(count(lit(1)).as("_df0"))
      .where(col("_df0") > 1)
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("_id"))
    val wRank = wDoc.orderBy(col("_df"), col("_h"))
    val Eps = 1e-9
    // Ranked shingles for EVERY doc (the y side needs full sets with
    // ranks); the x side is the per-doc prefix slice of the same frame.
    // Ranks are computed over ALL of a doc's shingles (the containment
    // bound needs true set sizes/positions), but the JOIN only needs rows
    // whose hash is SHARED (df > 1): a df=1 hash joins no other doc, so
    // dropping those rows from both sides is exact — and on a realistic
    // corpus the unique tail is the bulk of the shingle table.
    val ranked = Caches.pin(sh.join(df, Seq("_h"), "left")
      .withColumn("_df", coalesce(col("_df0"), lit(1L))).drop("_df0")
      .withColumn("_rk", row_number().over(wRank))
      .withColumn("_n", count(lit(1)).over(wDoc))
      .where(col("_df") > 1)
      .select(col("_id"), col("_n"), col("_h"), col("_rk")))
    val pre = ranked.where(col("_rk") <=
      (col("_n") - ceil(col("_n") * lit(threshold) - lit(Eps)) + 1).cast("int"))
    // Hot-hash salt map: df > maxDf → spread across ⌈df/maxDf⌉ sub-keys.
    // Bounded at Σdf/maxDf rows — broadcast-sized by construction. Derived
    // from the PERSISTED shared-hash frame, whose per-hash row count IS df
    // (one row per doc containing the hash) — re-deriving it from `df`
    // would re-aggregate the full unpruned shingle table once per
    // broadcast reference, which measured 2× the whole op on a
    // boilerplate-heavy 100k corpus.
    val hot = ranked.groupBy(col("_h")).agg(count(lit(1)).as("_dfh"))
      .where(col("_dfh") > maxDf)
      .select(col("_h"), ceil(col("_dfh").cast("double") / lit(maxDf)).cast("int").as("_nsalt"))
    // y side: each hot-hash row lands in ONE deterministic sub-key (spread
    // by doc id); cold hashes (the overwhelming majority) keep salt 0.
    val rankedS = ranked.join(broadcast(hot), Seq("_h"), "left")
      .withColumn("_salt", when(col("_nsalt").isNull, lit(0))
        .otherwise(pmod(xxhash64(col("_id")), col("_nsalt").cast("long")).cast("int")))
      .drop("_nsalt")
    // x side: prefix rows replicate across ALL sub-keys of their hash, so
    // every original (x, y) hash match survives in exactly one salted key.
    val preS = pre.join(broadcast(hot), Seq("_h"), "left")
      .withColumn("_salt", explode(sequence(lit(0), coalesce(col("_nsalt"), lit(1)) - 1)))
      .drop("_nsalt")
    val needOverlap = ceil(col("x._n") * lit(threshold) - lit(Eps))
    // The candidate join is PINNED to shuffle-hash (build = the prefix
    // side): the broadcast(hot) left-joins above make Catalyst's static
    // size estimate for both inputs collapse (join selectivity over a
    // filtered agg), and an estimate-promoted BroadcastHashJoin here would
    // try to build MILLIONS of prefix rows on the driver — measured as an
    // immediate broadcast OOM on a fresh 8 GB session at 100k docs, and
    // exactly the kind of mis-plan a 100 TB run cannot risk.
    val cand = preS.hint("shuffle_hash").as("x").join(rankedS.as("y"),
        col("x._h") === col("y._h") && col("x._salt") === col("y._salt"))
      .where(col("x._id") =!= col("y._id") &&
        // the prefix guarantee holds when x is the (tie-broken) smaller side
        (col("x._n") < col("y._n") ||
          (col("x._n") === col("y._n") && col("x._id") < col("y._id"))) &&
        // y-side positional bound, valid at the first common shingle
        (col("y._n") - col("y._rk") + lit(1)).cast("double") >= needOverlap)
      .select(least(col("x._id"), col("y._id")).as("doc_a"),
        greatest(col("x._id"), col("y._id")).as("doc_b"))
      .distinct()
    // Referenced by both verify joins: pin so the hash sets build once.
    val sets = Caches.pin(sh.groupBy(col("_id")).agg(count(lit(1)).as("_n"),
        sort_array(collect_list(col("_h"))).as("_hs")))
    cand
      .join(sets.select(col("_id").as("doc_a"), col("_n").as("_na"), col("_hs").as("_ha")), "doc_a")
      .join(sets.select(col("_id").as("doc_b"), col("_n").as("_nb"), col("_hs").as("_hb")), "doc_b")
      .withColumn("_c",
        graft.plans.SortedLongIntersectCount(col("_ha"), col("_hb")))
      .withColumn("containment",
        col("_c").cast("double") / least(col("_na"), col("_nb")).cast("double"))
      .where(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"))
  }

  // ── Near-dup clustering (connected components) ─────────────────────────

  /** Connected components over an undirected pair graph, computed with the
    * alternating LARGE-STAR / SMALL-STAR algorithm (Kiveris, Lattanzi,
    * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
    * and Beyond", SoCC 2014): each round is two groupBy+join passes over
    * the CURRENT edge set and the edge count never grows above the input,
    * converging in O(log² n) rounds regardless of component diameter —
    * unlike min-label propagation, whose round count is the graph DIAMETER
    * (a 10⁶-long chain of near-dup shards would take 10⁶ rounds to close).
    * This is the piece that turns pair-emitting near-dedup
    * ([[minHashLshPairs]], [[ngramJaccardPairs]], [[simHashPairs]]) into
    * the thing a training-data pipeline actually needs: one CLUSTER id per
    * document, so exactly one canonical representative per duplicate group
    * survives — dropping doc_b of every pair over-deletes when pairs chain
    * (a~b, b~c keeps only a; pair-drop would also delete c's best link).
    *
    * Scale shape: edges stay 2 longs/row; every pass is a map-side-combined
    * min() aggregate plus an equi-join on a long key; in a
    * [[Rounds.fixpoint]] loop each iteration's result is an eager local
    * checkpoint, so the logical plan is re-rooted on the materialized
    * round (constant-size plan per round — no O(rounds) Catalyst
    * re-analysis, no lineage blowup) and the superseded round is unpinned
    * once the next one is materialized. The returned frame reads the
    * FINAL round's checkpoint: consume it before [[Caches.release]].
    * Convergence is detected by an order-insensitive edge-set signature
    * (count + sum of per-edge xxhash64) — one tiny aggregate per round,
    * no except()/anti-join.
    *
    * Input: any DataFrame with two same-typed, orderable id columns; self
    * loops and duplicate/reversed pairs are tolerated. Output:
    * (`id`, `component`) for every id that appears in some pair, where
    * `component` is the smallest id in its component. Ids absent from the
    * pair list are the caller's singletons (see [[dedupAssign]]).
    *
    * Small-graph fast path: when the DISTINCT edge set fits the driver
    * comfortably ([[CcLocalMaxEdges]] ≈ 16 MB of longs — the same
    * driver-sized-by-design budget as the IVF centroid collect), the
    * closure runs as one in-memory union-find instead of O(log² n) Spark
    * rounds, each of which costs fixed job/codegen latency that dwarfs the
    * data at this size. This mirrors what iterative contraction converges to
    * anyway (the edge set only shrinks); a 100 TB pair graph with billions
    * of edges stays on the distributed star loop.
    *
    * `checkpointDir`: when set, each round's edge set is written to that
    * directory (reliable storage) and read back instead of checkpointed
    * to executor storage. That is the 100 TB configuration: a
    * billion-edge pair graph iterated 10+ rounds on a real cluster must
    * survive executor loss, and local-checkpoint blocks die with their
    * executor.
    * Superseded round files are deleted as the loop advances; the FINAL
    * round's files remain (the returned frame reads them), so the caller
    * owns deleting the directory (calls may share one) after consuming
    * the result. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50,
                          checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession

    // Canonical storage: (_u, _v) with _u < _v, deduped, self-loops gone.
    val canon = pairs
      .select(least(col(aCol), col(bCol)).as("_u"),
        greatest(col(aCol), col(bCol)).as("_v"))
      .where(col("_u") =!= col("_v") && col("_u").isNotNull)
      .distinct()

    val idType = canon.schema("_u").dataType
    // Driver-side ordering matching Spark's least()/min() for the id types
    // the engine actually clusters on; anything else skips the fast path.
    val localOrd: Option[Ordering[Any]] = idType match {
      case _: org.apache.spark.sql.types.LongType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.ShortType =>
        Some(Ordering.by((x: Any) => x.asInstanceOf[Number].longValue))
      case _: org.apache.spark.sql.types.StringType =>
        // UTF-8 BYTE order, not String's UTF-16 code-unit order: Spark's
        // least()/min() compare UTF8String bytes, and the two orders
        // disagree on supplementary-plane characters — the fast path must
        // pick the SAME representative the distributed loop would.
        Some(new Ordering[Any] {
          def compare(a: Any, b: Any): Int =
            org.apache.spark.unsafe.types.UTF8String
              .fromString(a.asInstanceOf[String])
              .compareTo(org.apache.spark.unsafe.types.UTF8String
                .fromString(b.asInstanceOf[String]))
        })
      case _ => None
    }
    if (localOrd.isDefined) {
      val head = Caches.collectAtMost(canon, CcLocalMaxEdges)
      if (head.isDefined) return localComponents(spark, head.get, idType, localOrd.get)
      // Over budget: fall through to the distributed loop (the collected
      // prefix is discarded — one bounded probe, not corpus-sized).
    }

    // Large-star: for every node x, attach each STRICTLY LARGER neighbor to
    // m(x) = min(Γ(x) ∪ {x}). Output is canonical by construction (m ≤ x < y).
    def largeStar(e: DataFrame): DataFrame = {
      val nb = e.select(col("_u").as("_x"), col("_v").as("_y"))
        .unionAll(e.select(col("_v").as("_x"), col("_u").as("_y")))
      val mins = nb.groupBy(col("_x"))
        .agg(min(col("_y")).as("_m0"))
        .select(col("_x"), least(col("_m0"), col("_x")).as("_m"))
      nb.join(mins, "_x").where(col("_y") > col("_x"))
        .select(col("_m").as("_u"), col("_y").as("_v"))
        .where(col("_u") =!= col("_v"))
        .distinct()
    }

    // Small-star: for every node x, attach each SMALLER-OR-SELF neighbor
    // (and x itself) to m(x) = min of x's smaller neighbors.
    def smallStar(e: DataFrame): DataFrame = {
      val nb = e.select(col("_v").as("_x"), col("_u").as("_y"))
      val mins = nb.groupBy(col("_x")).agg(min(col("_y")).as("_m"))
      nb.join(mins, "_x")
        .select(col("_m").as("_u"), col("_y").as("_v"))
        .unionAll(mins.select(col("_m").as("_u"), col("_x").as("_v")))
        .where(col("_u") =!= col("_v"))
        .distinct()
    }

    // Order-insensitive edge-set signature. A (count, hash-sum) collision
    // between two DIFFERENT successive edge sets would declare convergence
    // EARLY — a wrong answer, not an extra round — so a signature match is
    // only a trigger: convergence is then CONFIRMED set-theoretically
    // (equal counts + next ⊆ cur ⟹ equal, both sides being distinct()
    // outputs). The except() runs once per call, on the final round only.
    def sig(e: DataFrame): (Long, BigDecimal) = {
      // decimal(38,0) sum: overflow-free under ANSI mode at any edge count.
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("_u"), col("_v")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }

    // Signature match is the cheap trigger; the set check confirms it, so
    // a ~2⁻⁶⁴ collision can't end the loop on a non-fixpoint (silently
    // wrong) edge set. Running out of rounds throws: star rounds converge
    // in O(log² n), and a non-fixpoint edge set is NOT a component map.
    val cur = Rounds.fixpoint(canon, maxIter, "connectedComponents",
        checkpointDir)(e => smallStar(largeStar(e)))(e => (sig(e), e)) {
      case ((prevSig, prev), (nextSig, next)) =>
        nextSig == prevSig && next.exceptAll(prev).isEmpty
    }
    // Fixpoint edges are stars (componentMin, member); the center itself is
    // a member of its own component.
    cur.select(col("_v").as("id"), col("_u").as("component"))
      .unionAll(cur.select(col("_u").as("id"), col("_u").as("component")))
      .distinct()
  }

  /** Driver budget, in distinct edges, for [[connectedComponents]]'
    * union-find fast path. */
  private[ops] val CcLocalMaxEdges = 1L << 20

  /** In-memory union-find for driver-sized edge sets (path compression +
    * union-by-min); representative = smallest member under `ord`, matching
    * the distributed star loop's `least()`/`min()` semantics exactly. */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
                              edges: Array[org.apache.spark.sql.Row],
                              idType: org.apache.spark.sql.types.DataType,
                              ord: Ordering[Any]): DataFrame = {
    import scala.collection.mutable
    val idx = mutable.LinkedHashMap.empty[Any, Int]
    def id(x: Any): Int = idx.getOrElseUpdate(x, idx.size)
    val es = edges.map(r => (id(r.get(0)), id(r.get(1))))
    val parent = Array.tabulate(idx.size)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra max rb) = ra min rb
    }
    val nodes = idx.toArray // (value, index), insertion order
    val repr = mutable.HashMap.empty[Int, Any]
    nodes.foreach { case (v, i) =>
      val r = find(i)
      if (!repr.contains(r) || ord.lt(v, repr(r))) repr(r) = v
    }
    val out: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(nodes.map { case (v, i) =>
        org.apache.spark.sql.Row(v, repr(find(i)))
      }: _*)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType, nullable = false),
      org.apache.spark.sql.types.StructField("component", idType, nullable = false)))
    spark.createDataFrame(out, schema)
  }

  /** Cluster-aware dedup assignment: every document gets its near-dup
    * cluster id (component minimum; its own id when it has no near-dups)
    * and a keep flag — 1 exactly for the canonical (smallest-id) member of
    * each cluster. `docs` join `components` is a plain long-key shuffle
    * join — the component table is proportional to the duplicated subset,
    * no broadcast assumption. `checkpointDir` reaches
    * [[connectedComponents]]' per-round lineage truncation — the 100 TB
    * path — without the caller having to run CC by hand. */
  def dedupAssign(docs: DataFrame, idCol: String, pairs: DataFrame,
                  aCol: String = "doc_a", bCol: String = "doc_b",
                  checkpointDir: Option[String] = None): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol,
        checkpointDir = checkpointDir)
      .withColumnRenamed("id", idCol)
    docs.join(comp, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("component"), col(idCol)))
      .drop("component")
      .withColumn("keep", (col("cluster_id") === col(idCol)).cast("int"))
  }

  /** Benchmark decontamination scores — for every corpus document, the
    * fraction of its DISTINCT character n-grams that appear anywhere in a
    * benchmark/eval set (the standard eval-contamination signal; docs over
    * a threshold get quarantined before training). Both sides reduce to
    * 64-bit shingle hashes at the scan, the benchmark's distinct-gram table
    * is typically dim-sized (broadcast-able; AQE decides), and the overlap
    * is one equi-join + per-doc count — never doc×doc. Output:
    * (id, n_grams, n_hit, contamination = n_hit/n_grams) for every corpus
    * doc, including zero-overlap rows. */
  def contaminationScores(corpus: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String,
                          shingleN: Int = 8): DataFrame = {
    val corpusGrams = shingleHashes(corpus, idCol, textCol, shingleN)
    val benchGrams = shingleHashes(benchmark, idCol, textCol, shingleN)
      .select(col("_h")).distinct()
    corpusGrams
      .join(benchGrams.withColumn("_hit", lit(1L)), Seq("_h"), "left")
      .groupBy(col("_id"))
      // count(_hit) counts non-null rows only = matched grams (a long on
      // both engines — a sum() would be HUGEINT on the oracle side).
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_hit"))
      .select(col("_id").as(idCol), col("n_grams"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_grams").cast("double"))
          .as("contamination"))
  }

  /** QUALITY-AWARE keeper selection: like [[dedupAssign]], but the kept
    * member of each near-dup cluster is the one with the HIGHEST
    * `priority` (ties broken by smallest id — deterministic), not the
    * smallest id. This is what curation pipelines actually want: keep the
    * longest / highest-quality-score member of a duplicate group, drop the
    * truncated shards.
    *
    * Scale shape: the argmax runs over the FLAGGED MINORITY only (docs that
    * appear in some component — proportional to the duplicated subset);
    * singletons bypass it entirely via one anti-join and keep themselves.
    * The argmax itself is two MAP-SIDE-COMBINABLE aggregates (max priority
    * per component, then min id among the tied best), NOT a per-component
    * row_number window: a window sorts each component inside one task, and
    * shard-dedup corpora routinely chain everything into ONE mega-component
    * — a single-task sort of the whole flagged set. max()/min() partials
    * combine map-side, so a mega-component costs one combine per partition,
    * never one sort. */
  def dedupKeepBest(docs: DataFrame, idCol: String, pairs: DataFrame,
                    priority: Column,
                    aCol: String = "doc_a", bCol: String = "doc_b",
                    checkpointDir: Option[String] = None): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol,
        checkpointDir = checkpointDir)
      .withColumnRenamed("id", idCol)
    val flagged = docs.join(comp, Seq(idCol)).withColumn("_prio", priority)
    val pmax = flagged.groupBy(col("component")).agg(max(col("_prio")).as("_pmax"))
    // Null-safe equality replicates the window's desc_nulls_last tiebreak
    // chain: when every member's priority is null, all rows tie on the
    // (null) max and the min-id tiebreak decides alone.
    val keepIds = flagged.join(pmax, "component")
      .where(col("_prio") <=> col("_pmax"))
      .groupBy(col("component")).agg(min(col(idCol)).as("_keepId"))
    val flaggedOut = flagged.join(keepIds, "component")
      .withColumn("keep", (col(idCol) === col("_keepId")).cast("int"))
      .drop("_prio", "_keepId")
      .withColumnRenamed("component", "cluster_id")
    val singles = docs.join(comp.select(col(idCol)), Seq(idCol), "left_anti")
      .withColumn("cluster_id", col(idCol))
      .withColumn("keep", lit(1))
    // Restore the caller-facing column order (join-key promotion put
    // `component` first): docs columns, then cluster_id, keep.
    flaggedOut.unionByName(singles)
      .select((docs.columns.map(col) ++ Seq(col("cluster_id"), col("keep"))).toIndexedSeq: _*)
  }

  /** Cluster-correct corpus dedup: keep exactly the canonical (smallest-id)
    * member of every near-dup cluster — the end-to-end "dedup this corpus"
    * op. Pair-dropping (remove every doc_b) over-deletes when pairs chain
    * (a~b, b~c kills both b and c, keeping one doc from a 3-cluster only by
    * luck of pair orientation); component-based keeping is invariant to
    * pair orientation and chain shape. */
  def dedupFilter(docs: DataFrame, idCol: String, pairs: DataFrame,
                  aCol: String = "doc_a", bCol: String = "doc_b",
                  checkpointDir: Option[String] = None): DataFrame =
    dedupAssign(docs, idCol, pairs, aCol, bCol, checkpointDir)
      .where(col("keep") === 1)
      .drop("cluster_id", "keep")

  /** SoftDeDup weights — DOWNWEIGHT duplicates instead of dropping them
    * (the soft alternative to [[dedupFilter]]): every document keeps a
    * sampling/loss weight of 1/|its near-dup cluster| so each duplicate
    * NEIGHBORHOOD contributes one document's worth of mass in expectation,
    * while no individual copy (with its distinct metadata, source, or
    * context) is lost. This is the published SoftDeDup idea (He et al.
    * 2024, arXiv:2401.04578 — reweight commonness instead of deleting)
    * applied at cluster granularity, and the natural input to
    * [[graft.ops.Sampling.prioritySample]] / loss-weighting downstream.
    *
    * Weights are exact integer ppm — `1000000 div size` — so they are
    * deterministic, engine-replayable, and sum-stable (float division
    * would publish last-ulp noise into every downstream sampler). The
    * deliberate floor bias is ≤ 1 ppm per doc.
    *
    * `assign`: (idCol, clusterCol) — [[dedupAssign]] /
    * [[clusterIndexAppend]] output, one row per doc. Scale shape: one
    * groupBy(cluster) count (map-side combined) + one shuffle join back
    * on cluster id — no windows, so a viral 10⁸-copy cluster never lands
    * in a single task. Output: (idCol, clusterCol, cluster_size BIGINT,
    * weight_ppm BIGINT). */
  def softDedupWeights(assign: DataFrame, idCol: String,
                       clusterCol: String = "cluster_id"): DataFrame = {
    val sizes = assign.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("cluster_size"))
    assign.select(col(idCol), col(clusterCol))
      .join(sizes, Seq(clusterCol))
      .select(col(idCol), col(clusterCol),
        col("cluster_size"),
        expr("1000000L div cluster_size").as("weight_ppm"))
  }

  /** Contrastive POSITIVE pairs from the near-dup cluster table — the
    * complement of [[graft.ops.Similarity.hardNegatives]]: members of one
    * near-dup cluster are paraphrases/re-crawls of the same content, i.e.
    * exactly the "semantically equal, surface different" pairs a
    * contrastive embedding objective wants as positives (the supervised
    * SimCSE / E5 recipe mined from the dedup tier's byproduct instead of
    * human labels). Pairing is a PATH, not a clique: cluster members
    * sorted by id, each paired with its next `m` successors — n·m pairs
    * instead of n² (a 10⁴-copy boilerplate cluster must not emit 10⁸
    * pairs), still connecting every member to the cluster.
    *
    * Scale shape: singleton clusters drop via one aggregate + semi-join;
    * a viral cluster's CONTRIBUTION is capped first to `maxCluster`
    * hash-deterministic members ([[graft.ops.Sampling.exactKPerStratum]]
    * — salted two-phase, no mega-cluster task), so the member-order
    * window then sees ≤ maxCluster rows per cluster; the successor pairing
    * is one cluster-keyed equi-join with a rank-range predicate. All
    * choices are pure functions of the assign table (retry/layout/
    * engine-stable).
    *
    * `assign`: (idCol, clusterCol) — [[dedupAssign]] output. Output:
    * (clusterCol, id_a, id_b) with id_a < id_b by construction. */
  def positivePairs(assign: DataFrame, idCol: String, clusterCol: String,
                    m: Int = 1, maxCluster: Int = 4096): DataFrame = {
    require(m > 0, "positivePairs: m must be positive")
    require(maxCluster > 1, "positivePairs: maxCluster must exceed 1")
    import org.apache.spark.sql.expressions.Window
    val multi = assign.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("_sz")).where(col("_sz") > 1)
      .select(col(clusterCol))
    val members = assign.select(col(idCol), col(clusterCol))
      .join(multi, Seq(clusterCol), "left_semi")
    val capped = Sampling.exactKPerStratum(members, clusterCol, idCol,
      maxCluster)
    val w = Window.partitionBy(col(clusterCol)).orderBy(col(idCol))
    val mem = capped.withColumn("_rn", row_number().over(w))
    val a = mem.select(col(clusterCol), col(idCol).as("id_a"),
      col("_rn").as("_ra"))
    val b = mem.select(col(clusterCol), col(idCol).as("id_b"),
      col("_rn").as("_rb"))
    a.join(b, Seq(clusterCol))
      .where(col("_rb") > col("_ra") && col("_rb") <= col("_ra") + m)
      .select(col(clusterCol), col("id_a"), col("id_b"))
  }

  /** Append a new batch's MinHash signatures into the STORED signature
    * table — the write half of the recurring-crawl loop
    * ([[minHashLshPairsAgainstSignatures]] is the read half): after a
    * batch is admitted, its signatures join the corpus table so the NEXT
    * batch dedups against it, without ever re-shingling corpus text. Ids
    * already present in the store are dropped (an id re-crawl must not
    * duplicate signature rows — duplicated rows would double-band and
    * double-verify every future candidate), which also makes the append
    * IDEMPOTENT: a crashed-and-retried append adds exactly the missing
    * rows.
    *
    * Content-change guard: an id re-crawl whose TEXT changed would leave
    * the store silently stale under a bare id anti-join (the store would
    * diverge from corpus content), so overlapping ids have their stored
    * signature compared against the freshly computed one — the k-minhash
    * signature is itself a content fingerprint (identical text always
    * matches; changed text collides with probability ~2⁻⁶⁴ᵏ... in
    * practice never). A mismatch FAILS LOUDLY by default
    * (`onConflict = "error"`): an append-only parquet store cannot
    * update in place — delete the stale rows (rewrite/compact the store
    * without those ids) and re-append, or pass `onConflict = "ignore"`
    * to knowingly keep the old signature (pre-round-15 behavior).
    *
    * Bootstrap: a missing or empty `sigDir` is the FIRST crawl — the
    * batch's signatures are written as the initial store (no read of a
    * nonexistent directory), so one entry point serves the whole loop.
    *
    * The delta is materialized (localCheckpoint) BEFORE the write —
    * appending to a directory a lazy plan still reads is the classic
    * self-overwrite hazard (the [[graft.ops.Graph.graphIndexAppend]]
    * discipline); the same checkpoint also feeds the conflict probe, so
    * the store is scanned ONCE (ids + signatures projected), never text.
    *
    * Cost shape: batch-sized shingle/sign work + ONE (_id, _sig)-projected
    * scan of the stored table for the join — never a corpus text rescan. */
  def signatureIndexAppend(spark: org.apache.spark.sql.SparkSession,
                           newDocs: DataFrame, idCol: String, textCol: String,
                           sigDir: String, shingleN: Int = 8,
                           k: Int = 64, onConflict: String = "error"): Unit = {
    require(onConflict == "error" || onConflict == "ignore",
      s"signatureIndexAppend: onConflict must be 'error' or 'ignore', got '$onConflict'")
    val sigs = minHashSignatures(newDocs, idCol, textCol, shingleN, k)
    val path = new org.apache.hadoop.fs.Path(sigDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bootstrapped = fs.exists(path) && fs.listStatus(path).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (!bootstrapped) {
      sigs.write.mode("overwrite").parquet(sigDir)
      return
    }
    val existing = spark.read.parquet(sigDir)
      .select(col("_id"), col("_sig").as("_stored_sig"))
    Caches.scoped {
      // batch-sized after the join; checkpointed once, probed twice
      val joined = Caches.checkpoint(sigs.join(existing, Seq("_id"), "left"))
      if (onConflict == "error") {
        val clash = joined
          .where(col("_stored_sig").isNotNull && col("_stored_sig") =!= col("_sig"))
          .select(col("_id")).take(5)
        if (clash.nonEmpty) throw new IllegalStateException(
          "signatureIndexAppend: re-crawled id(s) arrived with CHANGED content " +
            s"(stored signature differs): ${clash.map(_.get(0)).mkString(", ")}" +
            " ... — an append-only store cannot update in place; compact the " +
            "store without these ids and re-append, or pass onConflict=\"ignore\"" +
            " to keep the stale signatures knowingly.")
      }
      val delta = joined.where(col("_stored_sig").isNull).drop("_stored_sig")
      delta.write.mode("append").parquet(sigDir)
    }
  }

  /** Incremental CLUSTER maintenance — the third leg of the recurring
    * crawl loop ([[signatureIndexAppend]] stores signatures,
    * [[batchAdmission]] decides admits; this keeps the CLUSTER TABLE
    * current): fold a new batch's near-dup pairs (cross pairs against the
    * corpus + batch-internal pairs) into a STORED (id, cluster_id)
    * assignment without re-running connected components over the corpus
    * pair graph. Exactly the full-rebuild answer, including the hard
    * case: a new doc BRIDGING two existing clusters merges them (both
    * take the merged group's min id as the new cluster id).
    *
    * Why it's exact: each stored cluster is connected by construction and
    * carries its MIN member id as its label, so contracting every touched
    * cluster to one super-node labeled cluster_id preserves both
    * connectivity and the min — CC over the contracted delta graph (new
    * ids + touched cluster labels, batch-scaled) yields the same minimum
    * per merged group as CC over the full graph.
    *
    * Preconditions: the store covers every corpus doc (singletons
    * included — [[dedupAssign]]'s output shape), and new ids are disjoint
    * from stored ids (the bipartite-dedup convention; a clash would make
    * a cluster label collide with a new node).
    *
    * Scale shape: the store is only ever the STREAMED side of broadcast
    * joins (touch lookup + remap rewrite — map-only passes over the big
    * table, no corpus shuffle); everything else — endpoints, contracted
    * edges, the CC itself, the remap — is batch-scaled.
    * [[connectedComponents]]' driver fast path usually absorbs the
    * contracted graph outright.
    *
    * Output: the UPDATED full assignment (idCol, cluster_id, keep) over
    * stored ∪ new ids — same shape the full rebuild would emit. */
  def clusterIndexAppend(clusters: DataFrame, newDocs: DataFrame,
                         idCol: String, pairs: DataFrame,
                         aCol: String = "doc_a", bCol: String = "doc_b",
                         checkpointDir: Option[String] = None): DataFrame = {
    // The delta pair frame is batch-scaled by contract but EXPENSIVE to
    // produce (LSH band join + exact verify): it feeds both the endpoint
    // set and the contracted edges below, so pin it once (r21) — without
    // this the whole pair generation ran twice per append.
    val p = Caches.checkpoint(pairs.select(col(aCol), col(bCol)))
    val ends = p.select(col(aCol).as("_e"))
      .unionAll(p.select(col(bCol).as("_e"))).distinct()
    // stored rows touched by the delta (batch-sized; ONE streamed pass
    // over the store), materialized so the two contraction joins below
    // don't each rescan the store
    val touched = Caches.checkpoint(clusters
      .join(broadcast(ends), clusters(idCol) === col("_e"))
      .select(col(idCol).as("_tid"), col("cluster_id").as("_tcl")))
    def contractSide(df: DataFrame, side: String, out: String): DataFrame = {
      val t = touched.select(col("_tid").as(s"_tid$out"),
        col("_tcl").as(s"_tcl$out"))
      df.join(broadcast(t), col(side) === col(s"_tid$out"), "left")
        .withColumn(out, coalesce(col(s"_tcl$out"), col(side)))
        .drop(side, s"_tid$out", s"_tcl$out")
    }
    val ce = contractSide(contractSide(p, aCol, "_ca"), bCol, "_cb")
    val comp = connectedComponents(ce, "_ca", "_cb",
      checkpointDir = checkpointDir)
    val remap = comp.select(col("id").as("_old"), col("component").as("_new"))
    // rewrite the store: map-only over the streamed big side (only
    // cluster ids that participated in the delta CC change)
    val updatedOld = clusters
      .join(broadcast(remap), col("cluster_id") === col("_old"), "left")
      .select(col(idCol),
        coalesce(col("_new"), col("cluster_id")).as("cluster_id"))
    val newAssign = newDocs.select(col(idCol))
      .join(broadcast(remap), col(idCol) === col("_old"), "left")
      .select(col(idCol), coalesce(col("_new"), col(idCol)).as("cluster_id"))
    updatedOld.unionAll(newAssign)
      .withColumn("keep", (col("cluster_id") === col(idCol)).cast("int"))
  }

  /** Per-new-doc admission verdict for a batch ingest: given the
    * (new_id, corpus_id, …) pair frame a bipartite dedup pass produced
    * ([[minHashLshPairsAgainstSignatures]] against the persisted corpus
    * signature table — the recurring-crawl shape), emit one row per NEW
    * doc with its corpus-duplicate count and `keep` = 1 iff none matched.
    * This is the decision table the ingest actually acts on (admit /
    * reject / route-to-review), kept separate from the pair frame so the
    * evidence stays auditable. New-batch-internal duplicates are out of
    * scope by design — run the self-join dedup on the admitted remainder
    * (batch-sized, cheap) if the ingest wants it.
    *
    * Scale shape: one left join of the batch against a pair-aggregate
    * that is at most batch-sized (map-side-combined count per new id) —
    * nothing corpus-sized appears after the pair generator. */
  def batchAdmission(newDocs: DataFrame, idCol: String,
                     pairs: DataFrame): DataFrame = {
    val agg = pairs.groupBy(col("new_id")).agg(count(lit(1)).as("n_dups"))
    newDocs.select(col(idCol))
      .join(agg, newDocs(idCol) === col("new_id"), "left")
      .select(col(idCol),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (coalesce(col("n_dups"), lit(0L)) === 0L).cast("int").as("keep"))
  }

  // ── SimHash ────────────────────────────────────────────────────────────

  /** 60-bit token hash both engines can replay: the first 15 hex chars of
    * md5 parsed as an integer. Slower than xxhash64 (use it where
    * cross-engine reproducibility matters more than throughput — e.g. an
    * oracle-checked signature); bit-uniform, so SimHash majority votes over
    * it are as good as over xxhash64. DuckDB equivalent:
    * CAST('0x' || substr(md5(t), 1, 15) AS BIGINT). */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** 120-bit identity key both engines can replay: a struct of two 60-bit
    * halves of md5 (hex chars 1-15 and 17-31). Use where a single 60-bit
    * hash keys DELETION at corpus scale — at billions of keys, 60-bit
    * birthday collisions are expected (n²/2⁶¹) and would silently merge
    * unrelated content, while 120 bits pushes the odds to n²/2¹²¹
    * (negligible past 10¹⁵ keys). DuckDB equivalent:
    * (CAST('0x' || substr(md5(t), 1, 15) AS BIGINT),
    *  CAST('0x' || substr(md5(t), 17, 15) AS BIGINT)). */
  def md5Hash120(c: Column): Column = {
    val m = md5(c.cast("binary"))
    struct(
      conv(substring(m, 1, 15), 16, 10).cast("long").as("h1"),
      conv(substring(m, 17, 15), 16, 10).cast("long").as("h2"))
  }

  /** Per-doc 64-bit SimHash over whitespace tokens, computed distributed:
    * explode tokens, hash each once, then 64 per-bit majority votes as
    * codegen'd sum() aggregates (+1 for a set bit, -1 for clear) in ONE
    * groupBy; a bit is set in the signature when its vote is strictly
    * positive. Output: (_id, _sig). */
  private[graft] def simHashPerDoc(docs: DataFrame, idCol: String, textCol: String,
                                   tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    // Repartition the compact text by id first (same rationale as
    // [[shingleHashes]]): the signature groupBy then aggregates in place —
    // no shuffle of exploded token rows, and tokenize/hash CPU spreads
    // over the cluster instead of the source's row-group count.
    val toks = docs.repartition(col(idCol)).select(
        col(idCol).as("_id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("_t"))
      .select(col("_id"), tokenHash(col("_t")).as("_h"))
    toks.groupBy(col("_id"))
      .agg(graft.plans.SimHashSigAgg(col("_h")).as("_sig"))
  }

  /** Near-dup pairs by SimHash: split the 64-bit signature into four 16-bit
    * chunks; Hamming distance <= 3 implies at least one identical chunk
    * (pigeonhole), so banding on chunks has recall 1.0 at that radius while
    * the shuffle key stays 2 bytes + chunk index. */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   tokenHash: Column => Column = xxhash64(_)): DataFrame =
    // Pinned: referenced by both sides of the chunk self-join.
    hammingBandPairs(Caches.pin(simHashPerDoc(docs, idCol, textCol, tokenHash)),
      maxHamming)

  /** Near-dup pairs from ANY per-item 64-bit signature table (_id, _sig) —
    * the banding engine shared by [[simHashPairs]] (text) and
    * [[Multimodal.perceptualHashPairs]] (media): four 16-bit chunks,
    * Hamming <= 3 implies >= 1 identical chunk by pigeonhole, so chunk
    * equality has recall 1.0 at that radius. Callers pin `sigd` (it is
    * referenced by both sides of the self-join). */
  private[ops] def hammingBandPairs(sigd: DataFrame, maxHamming: Int): DataFrame = {
    val chunked = sigd.select(col("_id"), col("_sig"),
      explode(array((0 until 4).map(j => struct(
        lit(j).as("_chunk"),
        shiftrightunsigned(col("_sig"), 16 * j).bitwiseAND(lit(0xFFFFL)).as("_ch"))): _*))
        .as("_cx"))
      .select(col("_id"), col("_sig"), col("_cx._chunk").as("_chunk"), col("_cx._ch").as("_ch"))
    val a = chunked.select(col("_chunk"), col("_ch"), col("_id").as("doc_a"), col("_sig").as("_siga"))
    val b = chunked.select(col("_chunk"), col("_ch"), col("_id").as("doc_b"), col("_sig").as("_sigb"))
    // Hamming-filter FIRST (a codegen'd map-side predicate that kills ~all
    // rows), THEN dedupe the survivors: the distinct's shuffle moves only
    // genuine near-dup pairs instead of every same-chunk candidate.
    a.join(b, Seq("_chunk", "_ch")).where(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("_siga").bitwiseXOR(col("_sigb"))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .dropDuplicates("doc_a", "doc_b")
  }

  // ── Blocked edit-distance pairs (entity resolution) ────────────────────

  /** Fuzzy-match candidate pairs over a VALUE DICTIONARY by bounded edit
    * distance — the record-linkage/entity-resolution shape (Fellegi–Sunter
    * blocking + verify): distinct values are grouped by a caller-supplied
    * blocking key, and only within-block pairs are verified with
    * Levenshtein. Emits (key_a, key_b, dist) with key_a < key_b and
    * dist <= maxDist.
    *
    * Recall contract (standard for blocking): a true match whose two
    * spellings land in DIFFERENT blocks is missed — choose the block from
    * a field the corruption model preserves (here typically a token the
    * typo doesn't touch; phonetic keys and length bands compose the same
    * way). Within a block, recall is 1.0: the verify is the exact
    * distance, computed with Spark's thresholded Levenshtein (early-exits
    * the DP at maxDist — O(len·maxDist) per pair, not O(len²)), after a
    * |len_a − len_b| ≤ maxDist length filter that kills most candidates
    * before any DP runs.
    *
    * Scale shape: the pair space is DICTIONARY-sized, not corpus-sized —
    * `df` is distinct-projected first (the same corpus-decoupling argument
    * as bpeLearn's word table: a 100 TB corpus has a bounded value
    * vocabulary for any human-entered field). One shuffle on the block
    * key; within-block the join is quadratic per block, which is the
    * intended economics when blocks are balanced — a hot block (e.g. a
    * near-empty blocking field) should be split by composing a second key
    * into `block`, exactly like salting a skewed join. */
  def editDistancePairs(df: DataFrame, keyCol: String,
                        block: Column => Column, maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val dict = df.select(col(keyCol).cast("string").as("_k"))
      .where(col("_k").isNotNull).distinct()
      .withColumn("_b", block(col("_k")))
    val a = dict.select(col("_b"), col("_k").as("key_a"))
    val b = dict.select(col("_b").as("_b2"), col("_k").as("key_b"))
    a.join(b, col("_b") === col("_b2") && col("key_a") < col("key_b") &&
        abs(length(col("key_a")) - length(col("key_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("key_a"), col("key_b"), maxDist))
      .where(col("dist") >= 0)
      .select(col("key_a"), col("key_b"), col("dist").cast("int").as("dist"))
  }
}
