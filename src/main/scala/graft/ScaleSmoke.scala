package graft
import org.apache.spark.sql.functions._
import graft.Harness.timed
object ScaleSmoke {
  /** Every section name `run` accepts — the spec iterates this so a new
    * section cannot ship without runtime coverage. */
  val AllSections: Set[String] =
    Set("dedup", "scoring", "vectors", "export", "graph", "sketches",
      "silhouette")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build(Harness.cpus, "scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    // Optional section filter: `runMain graft.ScaleSmoke scoring` runs only
    // that section. Default: all, at full size.
    val sections = if (args.isEmpty) AllSections else args.toSet
    run(spark, sections)
    spark.stop()
  }

  /** The smoke body. `scale` divides every data-scaled row count (model
    * constants like cell/band counts stay fixed): 1 = the manual full-size
    * smoke; ScaleSmokeSpec runs every section at scale=200 so that an op
    * output rename (the round-17 `col("z6")` incident — main-code no test
    * executed) fails the suite instead of the next manual smoke. Timings
    * printed at scale>1 are meaningless; only execution is the contract.
    *
    * Each row is one [[Harness.timed]] call, which prints
    * `label: <detail> time=X.X s`. A `lazy val` a row's detail reads is
    * evaluated, and so timed, inside that row. */
  def run(spark: org.apache.spark.sql.SparkSession, sections: Set[String],
          scale: Int = 1, tmpBase: String = "/tmp"): Unit = {
    import spark.implicits._
    def sz(base: Long, min: Long = 64L): Long = math.max(base / scale, min)
    // 100k docs: 10k templates x 10 mutated near-dup variants each.
    val docs = spark.range(sz(100000)).select(
      col("id").as("doc_id"),
      concat_ws(" ",
        (0 until 40).map(i =>
          concat(lit(s"tok$i"), ((col("id") / 10) * 31 + i) % 997)): _*)
        .as("base"))
      .select(col("doc_id"),
        // variant: append a per-doc suffix to ~half the docs so each
        // template cluster has both exact-near dups and spoilers
        when(col("doc_id") % 10 < 5, col("base"))
          .otherwise(concat(col("base"), lit(" uniq"), col("doc_id"))).as("text"))
    docs.write.mode("overwrite").parquet(s"$tmpBase/scale_docs")
    val d = spark.read.parquet(s"$tmpBase/scale_docs")

    if (sections("scoring")) {
      // Scoring tier at 100k docs (~4M token instances): all three are
      // one-or-two-pass plans with bounded model tables, so per-doc cost
      // must stay flat — the numbers to watch vs tfidf_100k (same exploded
      // volume): same order of magnitude or better.
      timed("lm_score_100k")(
        "rows=" + graft.ops.Scoring.bigramLmScore(d, "doc_id", "text").count())
      timed("classifier_100k") {
        val bigBuckets = if (scale > 1) 1 << 14 else 1 << 20
        val weights = spark.range(bigBuckets).select(col("id").as("bucket"),
          (((col("id") % 2001) - 1000).cast("double") / 1000.0).as("weight"))
        "rows=" + graft.ops.Scoring.hashedLinearScore(d, "doc_id", "text",
          weights, buckets = bigBuckets, intercept = 0.1).count()
      }
      timed("dsir_100k")("rows=" + graft.ops.Scoring.dsirWeights(d, "doc_id", "text",
        d.where(col("doc_id") % 10 === 0), "text", buckets = 65536).count())
      // Classifier FIT (round 16) at 100k docs / 2^18 buckets / 3 epochs:
      // tokenize+hash once into the persisted compact frame, then each
      // epoch is two joins against it with the weight table broadcast —
      // per-epoch cost must stay ~flat (the number to watch is
      // total/epochs vs one classifier_100k serve pass).
      timed("classifier_fit_100k_3ep")("weights=" + graft.ops.Scoring.hashedLinearFit(
        d.withColumn("label", (col("doc_id") % 2).cast("int")),
        "doc_id", "text", "label", buckets = if (scale > 1) 1 << 12 else 1 << 18,
        epochs = 3,
        lrPpm = 250000L).count())
      // Multiclass one-vs-all LID fit (round 17) at 100k docs / 4 classes
      // / 2^16 buckets / 2 epochs: ONE tokenize+hash into the shared
      // persisted frame, then per class the q195 epoch loop. Watch:
      // total ≈ classes × (per-epoch cost of classifier_fit at the same
      // buckets) + one shared feature build — NOT classes × re-tokenize.
      timed("langid_fit_100k_4cls_2ep")("weights=" + graft.ops.Scoring.langIdFit(
        d.withColumn("cls", concat(lit("c"), col("doc_id") % 4)),
        "doc_id", "text", "cls", buckets = if (scale > 1) 1 << 12 else 1 << 16,
        epochs = 2,
        lrPpm = 250000L).count())
      // quantileBuckets at 2M rows / 5 keys with ~400k DISTINCT scores per
      // key — the shape where a naive per-key cumulative window is one
      // 400k-row task; the two-level cum must stay flat.
      val scores = spark.range(sz(2000000)).select(
        concat(lit("k"), col("id") % 5).as("k"), col("id").as("id"),
        (((col("id") * 7919) % 1000003).cast("double") / 1000.0).as("s"))
      timed("quantile_buckets_2m")("buckets=" + graft.ops.Scoring.quantileBuckets(
        scores, "k", "s", b = 3, coarseBins = 1.0)
        .groupBy(col("bucket")).count().count())
      // drift monitor at the same 100k-doc corpus: two bounded count
      // tables + a 65536-row join — must cost ~one dsir fit pass.
      timed("drift_100k")("buckets=" + graft.ops.Scoring.distributionDrift(
        d.where(col("doc_id") % 10 === 0), "text",
        d.where(col("doc_id") % 10 =!= 0), "text", buckets = 65536).count())
      // chunking is map-only: 100k docs -> ~400k chunks with zero shuffle;
      // the number to watch is throughput only.
      timed("chunk_tokens_100k")("chunks=" + graft.ops.Text.chunkTokens(d,
        "doc_id", "text", chunkSize = 16, overlap = 4).count())
      // c-TF-IDF labels (round 15) over 100k docs / 50 classes: cost must
      // track the tfidf_100k explode (same ~4M instance volume); the
      // per-class top-n runs salted two-phase so no task holds a class's
      // whole vocabulary.
      timed("ctfidf_100k_50cls")("rows=" + graft.ops.Scoring.cTfIdfTopTerms(
        d.select((col("doc_id") % 50).as("cl"), col("text")), "cl", "text",
        topN = 10).count())
      // Bradley–Terry (round 15) at tournament scale: 1M outcomes over
      // ~10k items, 3 MM rounds — per-round cost is one games⋈strengths
      // join + a map-side-combined groupBy; the number to watch is that
      // rounds stay flat (lineage truncation keeps analysis time out).
      timed("bradley_terry_1m_10k") {
        val oc = spark.range(sz(1000000)).select(
          concat(lit("p"), col("id") % 10007).as("winner"),
          concat(lit("p"), (col("id") * 7919 + 13) % 10007).as("loser"))
        "items=" + graft.ops.Scoring.bradleyTerry(oc, "winner", "loser",
          iters = 3).count()
      }
      // diverseTopK (round 15) at 2M rows / ~10k strata: both phases are
      // salted windows, so no task sorts a stratum or the global
      // candidate set — cost must track a plain 2M-row shuffle.
      timed("diverse_topk_2m_10kstrata") {
        val rows2 = spark.range(sz(2000000)).select(
          concat(lit("s"), col("id") % 10007).as("src"), col("id").as("id"),
          ((col("id") * 2654435761L) % 1000000).as("score"))
        "rows=" + graft.ops.Sampling.diverseTopK(rows2, "src", "id",
          k = 1000, perStratum = 3, ord = Seq(col("score").desc)).count()
      }
      // robustZScores (round 15) at 2M rows / 5 keys with ~400k distinct
      // scores per key: two valueThresholds passes — must track ~2×
      // quantile_buckets_2m (same two-level-cum core, run twice).
      timed("robust_z_2m")("rows=" + graft.ops.Scoring.robustZScores(scores,
        "k", "s").where(col("z_ppm").isNotNull).count())
      // Stupid-Backoff trigram (round 15): 100k docs scored under a
      // 50k-doc reference fit — one doc-keyed trigram pass + three
      // count-only ref aggregates; cost target ~1.5× lm_score_100k
      // (one n-gram order up, reference half-sized).
      timed("trigram_backoff_100k")("rows=" + graft.ops.Scoring.trigramLmScore(d,
        "doc_id", "text", d.where(col("doc_id") % 2 === 0), "text").count())
      // vocabulary growth (round 15): one vocab-shaped min aggregate
      // over the 100k-doc token stream.
      timed("vocab_growth_100k")("buckets=" + graft.ops.Profile.vocabularyGrowth(d,
        "doc_id", "text", bucketSize = math.max(10000L / scale, 100L)).count())
    }

    if (sections("dedup")) {
    timed("minhash_lsh_100k")("pairs=" + graft.ops.Dedup.minHashLshPairs(d,
      "doc_id", "text", shingleN = 8, k = 64, bands = 16, rows = 4,
      threshold = 0.8).count())
    timed("simhash_100k")("pairs=" + graft.ops.Dedup.simHashPairs(d, "doc_id",
      "text", maxHamming = 3).count())
    // The EXACT path at the same 100k scale: prefix + PPJoin positional
    // filtering must keep the candidate join linear-ish in true pairs even
    // with 10k dup-dense clusters (the adversarial case for All-Pairs).
    timed("ngram_jaccard_100k")("pairs=" + graft.ops.Dedup.ngramJaccardPairs(d,
      "doc_id", "text", shingleN = 8, threshold = 0.8).count())
    // Containment at the same 100k dup-dense scale: the asymmetric path
    // joins the smaller side's prefix against the FULL shingle table, so
    // this is the op most exposed to a df blowup — the 10-doc template
    // clusters (df=10 shingles throughout) are the adversarial case.
    timed("containment_100k")("pairs=" + graft.ops.Dedup.containmentPairs(d,
      "doc_id", "text", shingleN = 8, threshold = 0.9).count())
    // TF-IDF at 100k docs (~4M (doc,term) rows): the in-plan-N overload —
    // one action covers token explode, tf/df aggregation and the enrich
    // join; the largest exploded intermediate per input byte next to spans.
    timed("tfidf_100k")("rows=" +
      graft.ops.Text.tfIdf(d, "doc_id", "text").count())
    // Duplicated spans over the SAME dup-dense fixture: every template's
    // ~400-char body repeats across its 10 variants, so nearly every
    // 50-char window is flagged — the worst case for the interval-merge
    // stage (maximum flagged-minority size).
    timed("dup_spans_100k")("spans=" +
      graft.ops.Text.duplicatedSpans(d, "doc_id", "text", n = 50).count())
    // Paragraph-level dedup (round 12): the 100k docs each get 4
    // paragraphs — own text, a corpus-wide banner (df=100k), a
    // per-decile footer (df=10k) and a unique tail. The df shuffle
    // carries md5-120 keys (16 bytes/paragraph); the hot list is 11
    // rows; per-doc reassembly dominates.
    timed("paragraph_dedup_100k") {
      val pd = d.select(col("doc_id"), concat(col("text"),
          lit("\nSubscribe to the newsletter.\nSection "),
          (col("doc_id") % 10).cast("string"),
          lit(" index page\nTail "), col("doc_id").cast("string")).as("text"))
      "dropped=" + graft.ops.Text.dropRepeatedParagraphs(pd, "doc_id", "text",
          minDf = math.max(1000L / scale, 5L))
        .agg(sum(col("n_dropped"))).head().getLong(0)
    }
    // URL + PII hygiene (round 13): both are map-only codegen scans — pure
    // throughput rows (no shuffle to watch; rows/s must hold flat at any
    // corpus size because nothing aggregates until the output-sized tail).
    timed("url_normalize_2m") {
      val urls = spark.range(sz(2000000)).select(
        concat(lit("HTTPS://WWW.site"), (col("id") % 50000).cast("string"),
          lit(".example"),
          when(col("id") % 3 === 0, lit(".co.uk")).otherwise(lit(".com")),
          lit("/p/"), col("id").cast("string"),
          lit("?utm_source=x&b=2&a=1#f")).as("url"))
      "domains=" + graft.ops.Web.withUrlParts(urls, "url")
        .where(col("norm_url").isNotNull)
        .agg(countDistinct(col("domain"))).head().getLong(0)
    }
    timed("pii_redact_100k")("hits=" + graft.ops.Text.redactPii(
        d.select(col("doc_id"), concat(col("text"),
          lit(" mail u"), col("doc_id").cast("string"),
          lit("@x.org or 10.1.2.3, call 555 010 4477.")).as("text")),
        "doc_id", "text")
      .agg(sum(col("n_emails") + col("n_ips") + col("n_phones")))
      .head().getLong(0))
    graft.core.Caches.release()
    // ── Adversarial boilerplate corpus (round 9): ONE viral block in 20%
    // of the 100k docs (df ≈ 20k — the license-header shape) plus 50
    // near-pure-boilerplate shard docs. The shards' rarest-first PREFIXES
    // must contain viral grams (they have only ~7 rarer unique grams and a
    // 13-gram prefix budget), so the shared-hash join hits the hot keys the
    // maxDf salt guards: unguarded, each of ~6 viral hashes lands 50
    // x-rows × 20050 y-rows on ONE key/task; guarded (maxDf=1000) the same
    // rows spread over ~21 sub-keys. Both runs must emit IDENTICAL pairs —
    // the guard is a shuffle re-shape, not a filter. Note the ~1M output
    // pairs are TRUE positives (every shard is genuinely 0.94-contained in
    // every carrier), so containment does ~6× Jaccard's verify work here
    // by construction; the number to watch is guarded vs unguarded.
    val viral = "LICENSEHEADERBLOCK COPYRIGHT TERMS APPLY TO EVERY SHARD " +
      "OF THIS CORPUS WITHOUT EXCEPTION ALL RIGHTS RESERVED FOREVER EVERY TIME "
    val boiler = spark.range(sz(100000)).select(
        col("id").as("doc_id"),
        concat(
          when(col("id") % 5 === 0, lit(viral)).otherwise(lit("")),
          concat_ws(" ", (0 until 40).map(i =>
            concat(lit(s"tok$i"), ((col("id") / 10) * 31 + i) % 997)): _*),
          when(col("id") % 10 < 5, lit(""))
            .otherwise(concat(lit(" uniq"), col("id")))).as("text"))
      .unionByName(spark.range(sz(100000), sz(100000) + 50).select(col("id").as("doc_id"),
        concat(lit(viral), lit("u"), col("id")).as("text")))
    boiler.write.mode("overwrite").parquet(s"$tmpBase/scale_boiler")
    val bo = spark.read.parquet(s"$tmpBase/scale_boiler")
    timed("jaccard_boiler_100k")("pairs=" + graft.ops.Dedup.ngramJaccardPairs(bo,
      "doc_id", "text", shingleN = 8, threshold = 0.8).count())
    lazy val ng = graft.ops.Dedup.containmentPairs(bo, "doc_id", "text",
      shingleN = 8, threshold = 0.9, maxDf = 1000).count()
    timed("containment_boiler_100k_guarded")(s"pairs=$ng")
    lazy val nu = graft.ops.Dedup.containmentPairs(bo, "doc_id", "text",
      shingleN = 8, threshold = 0.9, maxDf = Int.MaxValue).count()
    timed("containment_boiler_100k_unguarded")(s"pairs=$nu")
    assert(ng == nu, s"salt guard changed the pair count: $ng vs $nu")
    graft.core.Caches.release()
    // Incremental cluster maintenance (round 15): the 90k corpus's
    // assignment round-trips parquet (build cost outside the timer —
    // it's the one-time full dedup), then a 10k crawl batch's cross +
    // internal pairs fold in. Append cost = batch-scaled contracted CC
    // plus streamed map-only passes over the store — never a
    // corpus-graph CC rerun. Each 10-variant template cluster spans the
    // batch/corpus split, so the delta carries ~10k real bridge joins.
    val corpus90 = d.where(col("doc_id") % 10 =!= 0)
    val batch10 = d.where(col("doc_id") % 10 === 0)
    graft.ops.Dedup.dedupAssign(corpus90.select(col("doc_id")), "doc_id",
        graft.ops.Dedup.minHashLshPairs(corpus90, "doc_id", "text",
          shingleN = 8, k = 64, bands = 16, rows = 4, threshold = 0.8))
      .select(col("doc_id"), col("cluster_id"))
      .write.mode("overwrite").parquet(s"$tmpBase/scale_clusters")
    graft.core.Caches.release()
    timed("cluster_index_append_10k_delta") {
      val pairs = graft.ops.Dedup.minHashLshBatchPairs(batch10,
        graft.core.Caches.pin(graft.ops.Dedup.minHashSignatures(corpus90,
          "doc_id", "text", shingleN = 8, k = 64)),
        "doc_id", "text", shingleN = 8, k = 64, bands = 16, rows = 4,
        threshold = 0.8)
      "dropped=" + graft.ops.Dedup.clusterIndexAppend(
          spark.read.parquet(s"$tmpBase/scale_clusters"),
          batch10.select(col("doc_id")), "doc_id", pairs)
        .where(col("keep") === 0).count()
    }
    // SoftDeDup weights (round 15) over a synthetic 100k-doc assign with
    // one viral 50k-member cluster: the groupBy+join shape must not put
    // the viral cluster in one task (no windows — plan-proven in spec).
    val asg = d.select(col("doc_id"),
      when(col("doc_id") % 2 === 0, lit(0L))
        .otherwise(expr("doc_id div 10")).as("cluster_id"))
    timed("soft_dedup_100k_viral")("min_ppm=" +
      graft.ops.Dedup.softDedupWeights(asg, "doc_id")
        .agg(min(col("weight_ppm"))).head().getLong(0))
    // positivePairs (round 15) on the same viral assign: the 50k-member
    // cluster contributes ≤ (maxCluster−1)·m pairs, not 1.25G — the cap
    // + path-pairing claim.
    timed("positive_pairs_100k_viral")("pairs=" + graft.ops.Dedup.positivePairs(
      asg, "doc_id", "cluster_id", m = 2, maxCluster = 4096).count())
    graft.core.Caches.release()
    }

    if (sections("vectors")) {
    // 200k embeddings: 20k cluster centers x 10 jittered members each —
    // the SRP near-dup path must find within-cluster pairs without any
    // quadratic blowup (multi-table banding + hot-bucket guard).
    val dim = 32
    // id div 10 (integer division): ids 0-9 share center 0, 10-19 center 1…
    val vecs = spark.range(sz(200000)).select(col("id"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          sin(expr("id div 10") * 37 + j * 13) +
            sin(col("id") * 7919 + j) * lit(0.01)).as("vec"))
      .select(col("id"), col("vec").cast("array<double>").as("vec"))
    vecs.write.mode("overwrite").parquet(s"$tmpBase/scale_vecs")
    val v = spark.read.parquet(s"$tmpBase/scale_vecs")
    // The first n ids' vectors, ordered, as driver-side centroids.
    def firstCents(n: Int): Seq[(Int, Seq[Double])] =
      v.where(col("id") < n).orderBy(col("id")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq
    // planesPerTable must scale with corpus size: 2^planes buckets per
    // table. 8 planes (256 buckets) over 200k rows means ~800-row buckets
    // -> ~330M candidate pairs; 16 planes (65k buckets) keeps buckets at
    // cluster size. Recall for cosine>=0.99 pairs stays high across 4
    // tables (per-plane agreement p ~ 1 - arccos(0.99)/pi ~ 0.955;
    // 1-(1-p^16)^4 ~ 0.97). maxBucket matters here: these sin-generated
    // vectors are NOT direction-uniform, so some sign patterns collapse
    // thousands of clusters into one bucket — exactly the degenerate case
    // the guard bounds (at maxBucket=10000 the hot buckets alone emit
    // ~50M candidate pairs and OOM an 8 GB heap).
    timed("srp_neardup_200k")("pairs=" + graft.ops.Similarity.srpNearDupPairs(v,
      dim = dim, planesPerTable = 16, tables = 4, threshold = 0.99,
      maxBucket = 1000).count())
    // Group centroids at 200k x 32-d over 1000 groups (round 12): the
    // shuffle carries 1000 x 32 decimal partial sums, never vectors —
    // wall time must track the scan + explode, not group count.
    timed("group_centroids_200k")("rows=" + graft.ops.Similarity.groupCentroids(
      v.select((col("id") % 1000).as("grp"), col("vec")), "grp", "vec",
      dim = dim).count())
    // Hard negatives (round 12): 100 broadcast queries scored against the
    // 200k corpus with the jitter-cluster (id div 10) exclusion — the
    // contrastive-pair generator at its brute-force tier; the map-only
    // scan shape is the claim (swap in IVF/PQ for larger corpora).
    timed("hard_negatives_200k") {
      val clus = v.select(col("id").as("vec_id"),
        expr("id div 10").as("cluster_id"))
      "rows=" + graft.ops.Similarity.hardNegatives(
        v.where(col("id") % 2000 === 0), v, clus, "vec_id", "cluster_id",
        k = 10).count()
    }
    // SemDeDup (round 15): 50k vectors in 64 cells (~780 rows/cell) —
    // the contract's BOUNDED quadratic: 64·|cell|² ≈ 39M candidate dots
    // instead of a 1.25G-pair global frame; at production scale k grows
    // with the corpus to hold |cell| flat, so the per-cell cost is the
    // number to watch. The jitter clusters make the drops real.
    val vv = v.where(col("id") < sz(50000))
    lazy val sdCents = firstCents(64)
    timed("semdedup_50k_64cells")("dropped=" + graft.ops.Similarity.semDedup(
      vv, "id", "vec", sdCents, threshold = 0.99).where(col("keep") === 0).count())
    // int8 quantization (round 15): map-only codegen pack — pure
    // throughput row, nothing aggregates until the one-row error max.
    timed("int8_quantize_200k") {
      val err = graft.ops.Similarity.scalarQuantizeInt8(v, "id", "vec")
        .agg(max(col("max_abs_err"))).head().getDouble(0)
      f"max_err=$err%.6f"
    }
    // Embedding decontamination (round 15): the 50k corpus checked
    // against a 1k broadcast "eval set" in the same 64 cells — the
    // map-only corpus-pass claim (refs ride the broadcast).
    timed("cross_semdedup_50k_1kref")("contaminated=" +
      graft.ops.Similarity.crossSemDedup(
        vv.where(col("id") % 50 =!= 0), vv.where(col("id") % 50 === 0),
        "id", "vec", sdCents, threshold = 0.99)
      .where(col("keep") === 0).count())
    // int8 serving (round 15): 100 queries × 200k corpus scored on
    // CODES — must beat/track brute_200k (same plan shape, quarter the
    // scan bytes; dots are integer-exact).
    timed("int8_topk_200k") {
      val codes200 = graft.ops.Similarity.scalarQuantizeInt8(v, "id", "vec")
      "rows=" + graft.ops.Similarity.int8TopK(
        codes200.where(col("id") % 2000 === 0), codes200, "id", k = 10).count()
    }
    // kNN graph (round 15): 50k vectors / 64 cells, k=4 — same bounded
    // |cell|² geometry as semdedup_50k, PLUS the two-phase ranking of
    // the full ~39M-candidate frame (two bounded window exchanges):
    // expect ~2-3× semdedup_50k wall time, scaling with candidates,
    // never with a global pair frame.
    timed("knn_graph_50k_64cells")("edges=" + graft.ops.Similarity.knnGraph(
      vv, "id", "vec", sdCents, k = 4).count())
    // IVF centroid refresh (round 16): a stale 64-cell quantizer over the
    // 200k persisted index — ONE audit scan (per-cell decimal means, the
    // group_centroids shape) + a rewrite of only the flagged cells'
    // partitions; undrifted partitions are never read past the audit.
    // Watch: audit ≈ one group_centroids pass; migration scales with
    // drifted MASS, not index size.
    lazy val irCents = firstCents(64)
    timed("ivf_index_200k_64cells")(graft.ops.Similarity.ivfIndex(v, irCents)
      .write.mode("overwrite").partitionBy("_cell").parquet(s"$tmpBase/scale_ivfref"))
    lazy val (irNew, irDrifted) = graft.ops.Similarity.ivfCentroidRefresh(spark,
      s"$tmpBase/scale_ivfref", irCents, driftPpm = 100000L)
    timed("ivf_refresh_200k_64cells")(s"refit=${irDrifted.size}")
    // IVF compaction (round 17): the full-re-assignment true-up after
    // the refresh above — one map-only audit pass over the 200k index
    // (no shuffle; centroids are plan literals), rewrite of only the
    // cells that lost members (the refresh's documented miss class).
    // Watch: audit ≈ one index scan; the SECOND compact must find
    // nothing and cost only the audit.
    timed("ivf_compact_200k_64cells")("rewritten=" + graft.ops.Similarity
      .ivfCompact(spark, s"$tmpBase/scale_ivfref", irNew).size)
    timed("ivf_compact_recheck_200k_64cells")("noop=" + graft.ops.Similarity
      .ivfCompact(spark, s"$tmpBase/scale_ivfref", irNew).size)
    // bitext margin mining (round 15): 100 broadcast src queries against
    // the 200k tgt corpus — three map-only passes of the hard_negatives
    // shape (sims for per-src means, per-tgt means, margins).
    timed("margin_pairs_200k")("rows=" + graft.ops.Similarity.marginPairs(
      v.where(col("id") % 2000 === 0), v.where(col("id") % 2000 =!= 0),
      "id", "vec", k = 4).count())
    // embedding stats (round 15): one posexplode pass over 200k×dim.
    timed("embedding_stats_200k")("dims=" + graft.ops.Similarity.embeddingStats(
      v, "id", "vec", dim = dim).count())
    // PQ tier over the same 200k vectors: codebook fit is bounded by the
    // m·ksub·dsub collect, encoding is one map-only pass (the codegen'd
    // loop kernel), ADC search cost scales with probed lists — per-row
    // time must stay flat vs the 500-row fixture.
    lazy val books = graft.ops.Similarity.pqFitCodebooks(v, dim = dim, m = 16,
      ksub = 16, iters = 1, maxSample = 4096)
    lazy val cents200 = firstCents(16)
    timed("pq_index_200k") {
      graft.ops.Similarity.pqIndex(
        graft.ops.Similarity.ivfIndex(v, cents200), dim, 16, books)
        .write.mode("overwrite").parquet(s"$tmpBase/scale_pq")
      "rows=" + spark.read.parquet(s"$tmpBase/scale_pq").count()
    }
    timed("pq_search_200k")("rows=" + graft.ops.Similarity.pqTopKAgainstIndex(
      v.where(col("id") % 2000 === 0), spark.read.parquet(s"$tmpBase/scale_pq"),
      v, cents200, books, dim, 16, nprobe = 4, rerank = 100, k = 10).count())
    // Incremental ANN append (round 13): a 30k-vector "crawl delta"
    // (1/3 re-seen — the id anti-join does real work) merges into a
    // stored cell-partitioned PQ index at delta-encode + one id-column
    // scan cost, never a re-encode of the stored 180k.
    graft.ops.Similarity.pqIndex(
        graft.ops.Similarity.ivfIndex(v.where(col("id") < sz(180000)), cents200),
        dim, 16, books)
      .write.mode("overwrite").partitionBy("_cell").parquet(s"$tmpBase/scale_pq_app")
    timed("pq_index_append_30k_delta") {
      graft.ops.Similarity.pqIndexAppend(spark, v.where(col("id") >= sz(170000)),
        dim, 16, books, cents200, s"$tmpBase/scale_pq_app")
      "rows=" + spark.read.parquet(s"$tmpBase/scale_pq_app").count()
    }
    // Residual (IVF-PQ) tier: real k-means coarse quantizer + codes over
    // vec − centroid(cell); build adds the fitCentroids rounds, serve
    // adds one ⟨q, c_cell⟩ dot per probe row — per-candidate cost
    // unchanged (m lookups).
    lazy val kmC = graft.ops.Similarity.fitCentroids(v, k = 16, iters = 2,
      maxSample = 4096)
    lazy val resBooks = graft.ops.Similarity.pqFitCodebooksResidual(v, kmC, dim,
      16, 16, iters = 1, maxSample = 4096)
    timed("ivfpq_index_200k") {
      graft.ops.Similarity.pqIndexResidual(
          graft.ops.Similarity.ivfIndex(v, kmC), dim, 16, resBooks, kmC)
        .write.mode("overwrite").parquet(s"$tmpBase/scale_pq_res")
      "rows=" + spark.read.parquet(s"$tmpBase/scale_pq_res").count()
    }
    timed("ivfpq_search_200k")("rows=" + graft.ops.Similarity.pqTopKAgainstIndex(
      v.where(col("id") % 2000 === 0), spark.read.parquet(s"$tmpBase/scale_pq_res"),
      v, kmC, resBooks, dim, 16, nprobe = 4, rerank = 100, k = 10,
      residualCents = Some(kmC)).count())
    }

    if (sections("export")) {
      // BPE learn is numMerges sequential rounds over the DISTINCT-WORD
      // table (vocab-sized: ~1k distinct tokens here regardless of the
      // 100k docs), so learn time must be ~flat in corpus size; encode is
      // one map-only pass whose per-row cost is the merge-chain replace.
      lazy val merges = graft.ops.Export.bpeLearn(d, "text", numMerges = 32)
      timed("bpe_learn_100k")(s"merges=${merges.size}")
      val vocab = graft.ops.Export.bpeVocab(d, "text", merges)
      timed("bpe_encode_100k")("rows=" + graft.ops.Export.bpeEncode(d, "doc_id",
        "text", merges, vocab, oovBuckets = 4096).count())

      // Production-vocab merge COUNT: a syllable-built corpus rich enough
      // to sustain thousands of merges, learned through the incremental
      // driver loop and applied through the native BpeApply kernel —
      // whose plan size is constant in M (the nested-replace fold would
      // need a plan tree as deep as the table; that is the ceiling this
      // kernel removes).
      val rnd = new scala.util.Random(13)
      val sylls = Vector("ka", "to", "mi", "ra", "shu", "en", "bo", "li",
        "dra", "pex", "ur", "van", "qi", "sol", "tem", "ny", "gar", "ze",
        "plo", "wis", "chu", "fre", "ost", "bal", "ig", "mun", "tri", "vo",
        "hep", "sa")
      val pool = {
        val s = scala.collection.mutable.LinkedHashSet.empty[String]
        while (s.size < math.max(20000 / scale, 500))
          s += Seq.fill(2 + rnd.nextInt(4))(sylls(rnd.nextInt(sylls.size))).mkString
        s.toIndexedSeq
      }
      val bigDocs = graft.core.Caches.pin((0L until sz(100000)).map { i =>
        (i, Seq.fill(12)(pool(rnd.nextInt(pool.size))).mkString(" "))
      }.toDF("doc_id", "text").repartition(32))
      bigDocs.count()
      lazy val bigMerges = graft.ops.Export.bpeLearn(bigDocs, "text",
        numMerges = math.max(3000 / scale, 16))
      timed("bpe_learn_20kvocab")(s"merges=${bigMerges.size}")
      val bigVocab = graft.ops.Export.bpeVocab(bigDocs, "text", bigMerges)
      timed(s"bpe_encode_100k_${bigMerges.size}merges")("rows=" +
        graft.ops.Export.bpeEncode(bigDocs, "doc_id", "text",
          bigMerges, bigVocab, oovBuckets = 4096).count())
      graft.core.Caches.unpin(bigDocs)
    }

    if (sections("graph")) {
      // 2M-edge directed graph over 500k nodes with a hot-hub tail: 10%
      // of edges land on 1k hub nodes (the web-graph in-degree skew).
      // PageRank's per-iteration cost is 2 shuffles of the EDGE table —
      // 5 iterations over 2M edges must stay linear, and the integer
      // ranks make the run layout-independent, so this number is
      // directly comparable machine-to-machine.
      val edges = spark.range(sz(2000000)).select(
          pmod(col("id") * 2654435761L, lit(500000L)).as("src"),
          when(col("id") % 10 === 0, pmod(col("id"), lit(1000L)))
            .otherwise(pmod(col("id") * 40503L + 17L, lit(500000L))).as("dst"),
          (pmod(col("id"), lit(5L)) + 1L).as("w"))
        .where(col("src") =!= col("dst"))
      edges.write.mode("overwrite").parquet(s"$tmpBase/scale_edges")
      val eg = spark.read.parquet(s"$tmpBase/scale_edges")
      timed("pagerank_2m_edges_5iter")("nodes=" + graft.ops.Graph
        .pageRankFixedPoint(eg, "src", "dst", "w", iters = 5).count())
      // Sessionization at 5M events / 100k users (round 12): one exchange
      // on the key, both windows inside the per-key sort; per-event cost
      // must stay flat (the 100 TB layout buckets the log by key and
      // removes even this exchange).
      val sev = spark.range(sz(5000000)).select(
        (col("id") % 100000L).as("k"),
        (pmod(xxhash64(col("id")), lit(100000000L))).as("ts"))
      timed("sessionize_5m_events")("sessions=" + graft.ops.Ops.sessionize(sev,
          "k", "ts", gap = 500000L)
        .groupBy("k", "session_seq").agg(count(lit(1)))
        .count())
      // Priority sampling at 5M rows: a map-only priority projection +
      // salted two-phase top-k — the whole corpus is touched once.
      val wdf = spark.range(sz(5000000)).select(col("id"),
        (pmod(col("id") * 131L, lit(10000L)) + 1L).as("w"))
      timed("priority_sample_5m")("rows=" + graft.ops.Sampling.prioritySample(
        wdf, "id", "w", k = 10000).count())
      // Triangle counting on a 1M-edge undirected graph over 200k nodes:
      // 2000 dense 100-node communities (real triangles, ~200k of them)
      // plus a ~47k-degree hub (node 0) bridging them. Degree orientation
      // must keep the hub wedge-free — a naive neighbor self-join would
      // generate ~1.1e9 wedge rows from the hub alone; oriented, the hub
      // centers none. xxhash64 mixing avoids the modular-arithmetic
      // artifacts a linear-congruence generator bakes in (a first draft
      // produced a provably triangle-free "random" graph).
      val und = spark.range(sz(1000000)).select(
          when(col("id") % 20 === 0, lit(0L))
            .otherwise(
              pmod(xxhash64(col("id"), lit(0)), lit(2000L)) * 100L +
                pmod(xxhash64(col("id"), lit(1)), lit(100L))).as("a"),
          when(col("id") % 20 === 0,
              pmod(xxhash64(col("id"), lit(2)), lit(200000L)))
            .otherwise(
              pmod(xxhash64(col("id"), lit(0)), lit(2000L)) * 100L +
                pmod(xxhash64(col("id"), lit(3)), lit(100L))).as("b"))
        .where(col("a") =!= col("b"))
      und.write.mode("overwrite").parquet(s"$tmpBase/scale_und")
      val ug = spark.read.parquet(s"$tmpBase/scale_und")
      timed("triangles_1m_edges_hub")("tri3x=" + graft.ops.Graph.triangleCounts(
          ug, "a", "b")
        .agg(sum(col("triangles")).as("t")).head().getLong(0))
      // Label propagation, 3 synchronous rounds, 1-in-100 nodes seeded
      // with one of 5 labels: per-round cost is one adjacency join + one
      // two-level aggregate — linear in E, window-free.
      val seeds = spark.range(0, 200000, 100).select(
        col("id").as("node"), concat(lit("L"), col("id") % 5).as("lab"))
      timed("label_prop_1m_edges_3iter")("labeled=" + graft.ops.Graph
        .labelPropagation(ug, "a", "b", seeds, "node", "lab", iters = 3)
        .where(col("label").isNotNull).count())
      // Random walks: 1 walk x 4 hops from every node = 200k paths; each
      // hop is one join of the frontier against the persisted
      // adjacency-list table.
      timed("random_walks_200k_x4")("walks=" + graft.ops.Graph.randomWalks(ug,
        "a", "b", walksPerNode = 1, walkLen = 4).count())
      // DeepWalk-length walks (walkLen 40, Perozzi et al.'s setting):
      // per-hop state is (start, walk, cur) ONLY — hop-join shuffle bytes
      // stay flat in t (the round-11 path-string design shuffled the
      // growing prefix, O(walkLen^2) bytes); paths assemble in ONE final
      // groupBy. 200k walks x 40 hops = 8.2M hop rows.
      timed("random_walks_200k_x40")("walks=" + graft.ops.Graph.randomWalks(ug,
        "a", "b", walksPerNode = 1, walkLen = 40).count())
      // k-core: within-block degree ~9.5, so k=8 peels the per-block tail
      // with a multi-round cascade; per-round cost is one aggregate + one
      // semi-join over the surviving edges.
      timed("kcore_1m_edges_k8")("core_nodes=" +
        graft.ops.Graph.kCore(ug, "a", "b", k = 8).count())
      // Common neighbors with the hub cap: the 47k-degree hub is excluded
      // as a wedge center, so pair generation stays bounded by maxDeg^2
      // per node.
      timed("common_neighbors_1m_edges")("pairs=" + graft.ops.Graph
        .commonNeighborPairs(ug, "a", "b", maxDeg = 50, minCommon = 3).count())
      // Production fault-tolerance configuration: the SAME PageRank and
      // k-core runs with every lineage truncation written to reliable
      // storage (checkpointDir) instead of localCheckpoint — the
      // cluster-mode setting where one preempted executor must not kill a
      // multi-iteration job. The delta vs the rows above is the price of
      // durability (parquet write+read per truncation).
      val ckDir = java.nio.file.Files.createTempDirectory("smoke_gc").toString
      timed("pagerank_2m_edges_5iter_ckpt")("nodes=" + graft.ops.Graph
        .pageRankFixedPoint(eg, "src", "dst", "w", iters = 5,
          checkpointEvery = 2, checkpointDir = Some(s"$ckDir/pr")).count())
      timed("kcore_1m_edges_k8_ckpt")("core_nodes=" + graft.ops.Graph.kCore(ug,
        "a", "b", k = 8, checkpointDir = Some(s"$ckDir/kc")).count())
      // DeepWalk-length walks with reliable storage: every
      // checkpointEvery-th hop frontier is written to disk and kept with
      // the pinned hops between them — the full fault-tolerant walk
      // configuration (each hop row computed once).
      timed("random_walks_200k_x40_ckpt")("walks=" + graft.ops.Graph.randomWalks(
        ug, "a", "b", walksPerNode = 1, walkLen = 40,
        checkpointDir = Some(s"$ckDir/rw")).count())
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckDir))
      // Spine build/serve split on the 1M-edge graph: graphIndex pays the
      // canonicalization + bucketed write once; AgainstIndex serves skip it.
      // Clear any STALE warehouse location first: the smoke session's
      // catalog is in-memory, so a crashed previous run leaves the
      // table's directory behind with no catalog entry — saveAsTable then
      // takes the CTAS path and fails LOCATION_ALREADY_EXISTS (a
      // persistent-metastore deployment never hits this).
      val wh = new java.io.File(java.net.URI.create(
        spark.conf.get("spark.sql.warehouse.dir")).getPath)
      Seq("smoke_spine_edges", "smoke_spine_adj").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new java.io.File(wh, t)
        if (loc.exists)
          org.apache.commons.io.FileUtils.deleteDirectory(loc)
      }
      timed("graph_spine_build_1m_edges")(
        graft.ops.Graph.graphIndex(ug, "a", "b", "smoke_spine", buckets = 32))
      timed("graph_spine_pagerank_5iter")("nodes=" + graft.ops.Graph
        .pageRankAgainstIndex(spark, "smoke_spine", iters = 5).count())
      // Incremental append: a 1%-sized crawl delta (half re-seen pairs —
      // the dedup anti-join does real work) merges into the spine at
      // delta-canonicalize + one spine-scan cost, NOT a full rebuild.
      // ids shifted past the 200k node space = genuinely-new pairs (same
      // BIGINT type as the spine — an id-type change would be a different
      // graph, not a delta)
      val delta = ug.limit(5000).unionAll(ug.limit(5000)
        .select((col("a") + 1000000L).as("a"),
          (col("b") + 1000000L).as("b")))
      timed("graph_spine_append_10k_delta") {
        graft.ops.Graph.graphIndexAppend(spark, delta, "a", "b", "smoke_spine")
        "edges=" + spark.table("smoke_spine_edges").count()
      }
      spark.sql("DROP TABLE IF EXISTS smoke_spine_edges")
      spark.sql("DROP TABLE IF EXISTS smoke_spine_adj")
      graft.core.Caches.release()
    }

    if (sections("sketches")) {
      // Deterministic sketches at 50M rows: the point of the tier is that
      // the shuffle carries the SKETCH (256 registers / 2k counters /
      // 1k bins per group), not the 50M values — wall time must track the
      // scan, not the aggregation.
      val dDist = sz(1000000)
      val big = spark.range(sz(50000000)).select(
        (col("id") % dDist).cast("string").as("v"),
        (col("id") % 8).cast("int").as("g"),
        (col("id") % 97).cast("double").as("x"))
      timed("hll_50m")("groups=" + graft.ops.Sketches.hllDistinct(big, Seq("g"),
        "v", p = 8).count())
      timed("cms_50m") {
        val probes = spark.range(0, dDist, math.max(dDist / 100L, 1L)).select(
          col("id").cast("string").as("item"))
        "probes=" + graft.ops.Sketches.cmsEstimate(
          graft.ops.Sketches.cmsSketch(big, "v", depth = 4, width = 512),
          probes, "item", depth = 4, width = 512).count()
      }
      timed("hist_quantiles_50m")("qs=" + graft.ops.Sketches.histQuantiles(
        graft.ops.Sketches.histogram(big, "x", 0.0, 100.0, 1000),
        Seq(0.5, 0.9, 0.99), 0.0, 100.0, 1000).count())
      // KMV intersection at 50M rows / 1M distinct per side, 500k shared:
      // the salted two-phase bottom-k means no task ever sorts a side's
      // 1M distinct hashes, and the whole estimate reads two 1024-row
      // sketches. Accuracy asserted at 14% of the true intersection —
      // looser than the sketch's ~2σ (k=1024 → ~6%) because the Jaccard-
      // derived intersection compounds three estimates; the bound is the
      // historical full-size one, scale-generalized.
      val sideA = spark.range(sz(25000000)).select(
        (col("id") % dDist).cast("string").as("v"))
      val sideB = spark.range(sz(25000000)).select(
        ((col("id") % dDist) + dDist / 2).cast("string").as("v"))
      lazy val kest = graft.ops.Sketches.kmvIntersectEstimate(
        graft.ops.Sketches.kmvSketch(sideA, Seq.empty, "v", k = 1024),
        graft.ops.Sketches.kmvSketch(sideB, Seq.empty, "v", k = 1024),
        Seq.empty, k = 1024).head().getLong(5)
      timed("kmv_intersect_50m")(s"est_intersect=$kest")
      assert(math.abs(kest - dDist / 2) <= math.max(dDist / 2 * 14 / 100, 64),
        s"kmv intersect estimate off: $kest vs ${dDist / 2}")
    }

    if (sections("silhouette")) {
      // Simplified silhouette at 2M vectors × 64 cells: the centroid
      // table (64×16 doubles) broadcasts, scoring is one map-only pass of
      // 64 cosines/point whose per-point aggregate combines map-side —
      // wall time must track the scan, never a point×centroid shuffle.
      val dim = 16
      val vecs = spark.range(sz(2000000, min = 6400)).select(col("id"),
        (col("id") % 64).cast("int").as("cell"),
        transform(sequence(lit(0), lit(dim - 1)),
          j => (pmod(col("id") * 31 + j * 7, lit(97)).cast("double") -
            lit(48.0)) / lit(48.0) +
            when(j % 8 === col("id") % 8, lit(3.0)).otherwise(lit(0.0)))
          .as("vec"))
      lazy val nSil = graft.ops.Similarity.silhouetteSimplified(
        vecs, "id", "cell", "vec", dim).count()
      timed("silhouette_2m_64cells")(s"clusters=$nSil")
      assert(nSil == 64L, s"expected 64 cluster rows, got $nSil")
    }
  }
}
