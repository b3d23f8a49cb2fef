package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.ops.{Dedup, Sampling, Scoring, Similarity, Text, Web}

/** Training-data pipeline operators (dedup, similarity search, text
  * analysis) as declared queries over `documents` / `embeddings`.
  * Shared jaccard-pair SQL: the DuckDB oracle computes EXACT n-gram Jaccard;
  * the MinHash+LSH query must reproduce it exactly because candidates are
  * verified with exact Jaccard before thresholding (precision 1.0) and the
  * band configuration gives ~1.0 recall at the 0.8 threshold. */
object LlmQueries {

  /** Shared oracle for q48 (in-plan IVF) and q73 (persisted-index IVF) —
    * the storage round trip must be result-invisible, so both replay the
    * same coarse-quantize + probe + exact-score pipeline. */
  private val IvfSql =
    """WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      |w AS (SELECT id, vec, sqrt(list_inner_product(vec, vec)) AS n FROM v),
      |cents AS (SELECT id AS cid, vec AS cvec, n AS cn FROM w WHERE id < 16),
      |assign AS (
      |  SELECT id, cid AS cell FROM (
      |    SELECT c.id, t.cid,
      |      ROW_NUMBER() OVER (PARTITION BY c.id
      |        ORDER BY round(list_inner_product(c.vec, t.cvec) / (c.n * t.cn), 6)
      |                 DESC, t.cid) AS rk
      |    FROM w c, cents t) WHERE rk = 1),
      |probes AS (
      |  SELECT id AS query_id, cid AS cell FROM (
      |    SELECT c.id, t.cid,
      |      ROW_NUMBER() OVER (PARTITION BY c.id
      |        ORDER BY round(list_inner_product(c.vec, t.cvec) / (c.n * t.cn), 6)
      |                 DESC, t.cid) AS rk
      |    FROM w c, cents t WHERE c.id % 50 = 0) WHERE rk <= 2),
      |scored AS (
      |  SELECT p.query_id, a.id AS neighbor_id,
      |    round(list_inner_product(q.vec, x.vec) / (q.n * x.n), 6) AS sim
      |  FROM probes p
      |  JOIN assign a ON a.cell = p.cell AND a.id <> p.query_id
      |  JOIN w q ON q.id = p.query_id
      |  JOIN w x ON x.id = a.id)
      |SELECT query_id, neighbor_id, sim, rank FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |                               ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM scored)
      |WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** Shared oracle for q23 (brute force) and q92 (PQ+ADC with exact
    * re-rank): the compressed-index path must reproduce the exact
    * brute-force top-k — the PQ approximation may only decide which
    * candidates pay the exact re-rank, never the published ranks/sims. */
  private val BruteTopKSql =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |scored AS (
      |  SELECT query_id, e.vec_id AS neighbor_id,
      |    round(list_inner_product(qe, e.embedding::DOUBLE[]) /
      |      (sqrt(list_inner_product(qe, qe)) *
      |       sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) AS sim
      |  FROM q, embeddings e WHERE e.vec_id <> query_id)
      |SELECT query_id, neighbor_id, sim, rank FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |                               ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM scored)
      |WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** Shared oracle for q134 (signature table built whole) and q138 (built
    * 60% then APPENDED with a 10%-overlap delta): per-new-doc admission
    * verdict over the exact cross-side Jaccard pairs. Shared on purpose —
    * how the signature store was produced must be result-invisible. */
  private lazy val CrawlAdmissionSql: String =
    s"""WITH pairs AS ($JaccardPairsSql),
       |cp AS (SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END
       |         AS new_id
       |       FROM pairs WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)),
       |ag AS (SELECT new_id, count(*) AS n_dups FROM cp GROUP BY 1)
       |SELECT doc_id, CAST(coalesce(n_dups, 0) AS BIGINT) AS n_dups,
       |  CAST(coalesce(n_dups, 0) = 0 AS INT) AS keep
       |FROM documents LEFT JOIN ag ON doc_id = new_id
       |WHERE doc_id % 10 = 0
       |ORDER BY doc_id""".stripMargin

  /** Shared oracle for q57 (cluster table built whole) and q143 (built on
    * the 90% corpus then incrementally APPENDED with the 10% batch's
    * pairs): full-corpus recursive-CTE closure over the exact Jaccard
    * pair set. Shared on purpose — how the cluster table was produced
    * must be result-invisible, including batch docs that bridge and
    * merge pre-existing clusters. */
  private lazy val ClusterAssignSql: String =
    s"""WITH RECURSIVE pairs AS ($JaccardPairsSql),
       |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |      UNION SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM e
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
       |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
       |         FROM reach GROUP BY u)
       |SELECT d.doc_id,
       |       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       |       CAST(COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS INT) AS keep
       |FROM documents d LEFT JOIN comp c USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  private val JaccardPairsSql =
    """WITH g AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [substr(text, i::INT, 8) FOR i IN generate_series(1, greatest(length(text)-7, 1))]
      |  )) AS gram FROM documents
      |), sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      |  FROM g a JOIN g b USING (gram) WHERE a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |       CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8""".stripMargin

  /** q160's per-match-depth RBO contribution table, interpolated from the
    * op's own constants ([[graft.ops.Similarity.rboTail]]) so both
    * engines walk identical literals — the shared-constant lockstep
    * convention (same as the PII regexes). */
  private lazy val RboTailCaseSql: String =
    (1 to 10).map(md =>
      s"WHEN $md THEN CAST(${Similarity.rboTail(10, 0.9)(md - 1)} " +
        "AS DECIMAL(18,6))").mkString(" ")

  /** q195's oracle: the FULL 3-epoch training trajectory of
    * [[graft.ops.Scoring.hashedLinearFit]] replayed in SQL — feature
    * build (hashed counts + intercept rows), then per epoch the margin
    * `//` d, residual, per-bucket gradient, lr-scaled update. Pure
    * integer arithmetic end to end (HUGEINT intermediates; `//`
    * truncates toward zero, matching Spark's `div` — probed on
    * negatives), so the learned weights match bit-for-bit. Epoch CTEs
    * are generated by the same loop bounds the op runs with. */
  private val LinFitEpochs = 3

  /** CTE chain (no WITH prefix) ending in `w3(bkt, wu)` — the learned
    * weight table, shared by q195 (publishes it) and q197 (serves it
    * through the scorer + sweep). */
  private lazy val LinFitCtes: String = {
    val chain = (1 to LinFitEpochs).map { k =>
      val prev = s"w${k - 1}"
      s"""r$k AS (SELECT f.doc_id,
         |    (CAST(sum(CAST(wu AS HUGEINT) * c) AS HUGEINT) // d) - yu AS ru
         |  FROM f JOIN $prev USING (bkt) GROUP BY f.doc_id, d, yu),
         |g$k AS (SELECT bkt, sum((CAST(ru AS HUGEINT) * c) // d) AS g
         |  FROM f JOIN r$k USING (doc_id) GROUP BY 1),
         |w$k AS (SELECT w.bkt,
         |    wu - (250000 * (coalesce(g, 0) // (SELECT nd FROM nd)))
         |      // 1000000 AS wu
         |  FROM $prev w LEFT JOIN g$k USING (bkt))""".stripMargin
    }.mkString(",\n")
    s"""t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
       |    ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS toks,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
       |s AS (SELECT doc_id,
       |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 512 AS bkt
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) WHERE tok <> ''),
       |cnt AS (SELECT doc_id, bkt, count(*) AS c FROM s GROUP BY 1, 2),
       |dd AS (SELECT t.doc_id, greatest(coalesce(n.n, 0), 1) AS d,
       |    CAST((2 * y - 1) * 1000000 AS BIGINT) AS yu
       |  FROM t LEFT JOIN (SELECT doc_id, count(*) AS n FROM s
       |                    GROUP BY 1) n USING (doc_id)),
       |f AS (SELECT doc_id, bkt, c, d, yu FROM cnt JOIN dd USING (doc_id)
       |      UNION ALL
       |      SELECT doc_id, CAST(-1 AS BIGINT), d, d, yu FROM dd),
       |nd AS (SELECT count(*) AS nd FROM dd),
       |w0 AS (SELECT DISTINCT bkt, CAST(0 AS HUGEINT) AS wu FROM f),
       |$chain""".stripMargin
  }

  private lazy val LinFitSql: String =
    s"""WITH $LinFitCtes
       |SELECT CAST(bkt AS BIGINT) AS bucket, CAST(wu AS BIGINT) AS weight_u
       |FROM w$LinFitEpochs ORDER BY bucket""".stripMargin

  /** q197's oracle: the q195 training chain, then the learned weights
    * served through the q82 scoring chain (same signed-ppm integral
    * division as hashedLinearScore — no double ever divides), scores
    * clamped to [0, 1e6], then the q146 sweep (densified bins, suffix
    * sums, ceil thresholds) — the full train → serve → operate loop in
    * ONE replayable query. */
  private lazy val FitServeSweepSql: String = {
    val w = s"w$LinFitEpochs"
    s"""WITH $LinFitCtes,
       |sm AS (SELECT doc_id, count(*) AS n, sum(wu) AS sw
       |       FROM s JOIN $w USING (bkt) GROUP BY 1),
       |i0 AS (SELECT wu AS iu FROM $w WHERE bkt = -1),
       |sc AS (SELECT t.doc_id,
       |    (SELECT iu FROM i0) +
       |    CASE WHEN coalesce(sm.n, 0) > 0
       |      THEN (CASE WHEN sm.sw < 0 THEN -1 ELSE 1 END)
       |             * CAST(abs(CAST(sm.sw AS HUGEINT)) // sm.n AS BIGINT)
       |      ELSE 0 END AS sp,
       |    t.y
       |  FROM t LEFT JOIN sm USING (doc_id)),
       |bn AS (SELECT CAST(least(CAST(least(1000000, greatest(0, sp))
       |      AS HUGEINT) * 10 // 1000000, 9) AS INT) AS bin, y FROM sc),
       |a2 AS (SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS npos
       |       FROM bn GROUP BY 1),
       |dn2 AS (SELECT g.bin, coalesce(a2.n, 0) AS n,
       |         coalesce(a2.npos, 0) AS npos
       |        FROM (SELECT CAST(unnest(generate_series(0, 9)) AS INT)
       |                AS bin) g
       |        LEFT JOIN a2 USING (bin)),
       |sf2 AS (SELECT bin, n, npos,
       |    sum(npos) OVER (ORDER BY bin DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
       |    sum(n) OVER (ORDER BY bin DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp,
       |    sum(npos) OVER () AS pos
       |  FROM dn2)
       |SELECT CAST((CAST(bin AS HUGEINT) * 1000000 + 9) // 10 AS BIGINT)
       |    AS thr_ppm,
       |  CAST(tp AS BIGINT) AS tp, CAST(pp - tp AS BIGINT) AS fp,
       |  CAST(pos - tp AS BIGINT) AS fn,
       |  CASE WHEN pp = 0 THEN 0
       |    ELSE CAST(CAST(tp AS HUGEINT) * 1000000 // pp AS BIGINT)
       |  END AS precision_ppm,
       |  CASE WHEN pos = 0 THEN 0
       |    ELSE CAST(CAST(tp AS HUGEINT) * 1000000 // pos AS BIGINT)
       |  END AS recall_ppm,
       |  CASE WHEN pp + pos = 0 THEN 0
       |    ELSE CAST(CAST(tp AS HUGEINT) * 2000000 // (pp + pos) AS BIGINT)
       |  END AS f1_ppm
       |FROM sf2 ORDER BY thr_ppm""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(

    // ── token counting (whitespace + BPE-ish regex) ──
    QueryDef("q15_token_count",
      """SELECT doc_id,
        |  CASE WHEN trim(text) = '' THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_ws,
        |  len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])')) AS n_bpe
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
          col("doc_id"),
          TextFunctions.tokenCountWs(col("text")).as("n_ws"),
          TextFunctions.tokenCountBpe(col("text")).as("n_bpe"))
        .orderBy("doc_id")
    },

    // ── quality scoring: structural ratios ──
    QueryDef("q16_quality",
      """SELECT doc_id,
        |  length(text) AS n_chars_m,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE)
        |            / length(text) END AS punct_ratio,
        |  CASE WHEN trim(text) = '' THEN 0.0
        |       ELSE CAST(len([t FOR t IN regexp_split_to_array(lower(trim(text)), '\s+')
        |                      IF t IN ('the','a','of','and','to','in','is')]) AS DOUBLE)
        |            / len(regexp_split_to_array(lower(trim(text)), '\s+')) END AS stopword_ratio,
        |  CASE WHEN trim(text) = '' THEN 0.0
        |       ELSE CAST(list_sum([len(t) FOR t IN regexp_split_to_array(trim(text), '\s+')]) AS DOUBLE)
        |            / len(regexp_split_to_array(trim(text), '\s+')) END AS mean_tok_len
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
          col("doc_id"),
          length(col("text")).as("n_chars_m"),
          TextFunctions.punctRatio(col("text")).as("punct_ratio"),
          TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"),
          TextFunctions.meanTokenLen(col("text")).as("mean_tok_len"))
        .orderBy("doc_id")
    },

    // ── language-ID heuristic (deterministic marker argmax) ──
    QueryDef("q17_langid", {
      val scores = TextFunctions.LangMarkers.map { case (l, p) =>
        s"len(regexp_extract_all(lower(text), '$p')) AS s_$l"
      }.mkString(", ")
      val best = "greatest(s_en, s_es, s_de, s_fr, s_zh)"
      s"""WITH sc AS (SELECT doc_id, $scores FROM documents)
         |SELECT doc_id,
         |  CASE WHEN $best = 0 THEN 'und'
         |       WHEN s_en = $best THEN 'en'
         |       WHEN s_es = $best THEN 'es'
         |       WHEN s_de = $best THEN 'de'
         |       WHEN s_fr = $best THEN 'fr'
         |       ELSE 'zh' END AS lang_pred
         |FROM sc
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      Tables.documents(s, d).select(
          col("doc_id"),
          TextFunctions.langIdHeuristic(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },

    // ── content fingerprint (normalized md5) ──
    QueryDef("q18_fingerprint",
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
          col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // ── exact n-gram Jaccard near-dup pairs (shingle equi-join) ──
    QueryDef("q19_ngram_jaccard",
      JaccardPairsSql + "\nORDER BY doc_a, doc_b") { (s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
          shingleN = 8, threshold = 0.8)
        .orderBy("doc_a", "doc_b")
    },

    // ── MinHash + LSH near-dup pairs, exact-verified (same oracle) ──
    QueryDef("q20_minhash_lsh",
      JaccardPairsSql + "\nORDER BY doc_a, doc_b") { (s, d) =>
      Dedup.minHashLshPairs(Tables.documents(s, d), "doc_id", "text",
          shingleN = 8, k = 64, bands = 16, rows = 4, threshold = 0.8)
        .orderBy("doc_a", "doc_b")
    },

    // ── near-dedup end-to-end: drop the higher id of each near-dup pair ──
    QueryDef("q21_dedup_filter",
      s"""WITH pairs AS ($JaccardPairsSql)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text",
        shingleN = 8, k = 64, bands = 16, rows = 4, threshold = 0.8)
      docs.join(pairs.select(col("doc_b").as("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"))
        .orderBy("doc_id")
    },

    // ── SimHash near-dup pairs. The declared query swaps the library's
    //    default xxhash64 token hash for an md5-derived 60-bit hash BOTH
    //    engines compute identically, so the oracle replays the entire
    //    signature: per-bit majority votes, banding recall guaranteed by
    //    pigeonhole on the Spark side, O(n²) check on the oracle side. ──
    QueryDef("q22_simhash",
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, j,
        |    SUM(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN range(60) AS r(j)
        |  GROUP BY doc_id, j),
        |sig AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
        |             ELSE 0 END) AS sig
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      Dedup.simHashPairs(Tables.documents(s, d), "doc_id", "text",
          maxHamming = 3, tokenHash = Dedup.md5Hash60)
        .orderBy("doc_a", "doc_b")
    },

    // ── the composed training-data cleaning pipeline: language filter ->
    //    structural quality gates -> near-dup removal, one declared op ──
    QueryDef("q45_corpus_clean", {
      val scores = TextFunctions.LangMarkers.map { case (l, p) =>
        s"len(regexp_extract_all(lower(text), '$p')) AS s_$l"
      }.mkString(", ")
      val best = "greatest(s_en, s_es, s_de, s_fr, s_zh)"
      s"""WITH pairs AS ($JaccardPairsSql),
         |sc AS (SELECT doc_id, text, $scores FROM documents),
         |lang AS (
         |  SELECT doc_id, text FROM sc
         |  WHERE $best > 0 AND s_en = $best),
         |quality AS (
         |  SELECT doc_id, text FROM lang
         |  WHERE length(text) >= 100
         |    AND CASE WHEN trim(text) = '' THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END >= 10
         |    AND CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE)
         |        / length(text) < 0.1)
         |SELECT doc_id,
         |  len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
         |FROM quality
         |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val lang = docs
        .where(TextFunctions.langIdHeuristic(col("text")) === "en")
      val quality = lang.where(
        length(col("text")) >= 100 &&
        TextFunctions.tokenCountWs(col("text")) >= 10 &&
        TextFunctions.punctRatio(col("text")) < 0.1)
      // LSH+exact-verify (precision 1.0; band recall ~1.0 at t=0.8, same
      // contract as q21) instead of the full prefix-filter join.
      val dupIds = Dedup.minHashLshPairs(docs, "doc_id", "text",
          shingleN = 8, k = 64, bands = 16, rows = 4, threshold = 0.8)
        .select(col("doc_b").as("doc_id"))
      quality.join(dupIds, Seq("doc_id"), "left_anti")
        .select(col("doc_id"),
          TextFunctions.tokenCountWs(col("text")).as("n_tokens"))
        .orderBy(col("doc_id"))
    },

    // ── brute-force cosine top-k ANN baseline ──
    QueryDef("q23_ann_topk", BruteTopKSql) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      val queries = emb.where(col("id") % 50 === 0)
      Similarity.bruteForceTopK(queries, emb, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
        .orderBy("query_id", "rank")
    },

    // ── SRP-LSH bucketed ANN. The hyperplanes are PLAN LITERALS (seeded
    //    generation, not runtime randomness), so the oracle SQL embeds the
    //    identical constants and replays bucket assignment + within-bucket
    //    scoring exactly — the approximation is deterministic and checkable. ──
    QueryDef("q24_ann_srp", {
      val planes = Similarity.srpPlanes(dim = 64, nPlanes = 8)
      val bucket = planes.zipWithIndex.map { case (p, i) =>
        val lits = p.map(_.toString).mkString("[", ", ", "]")
        s"(CASE WHEN list_inner_product(vec, $lits) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("\n     + ")
      s"""WITH v AS (
         |  SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
         |b AS (
         |  SELECT id, vec,
         |    sqrt(list_inner_product(vec, vec)) AS n,
         |    $bucket AS bucket
         |  FROM v),
         |scored AS (
         |  SELECT x.id AS query_id, y.id AS neighbor_id,
         |    round(list_inner_product(x.vec, y.vec) / (x.n * y.n), 6) AS sim
         |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.id <> y.id)
         |SELECT query_id, neighbor_id, sim, rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |                               ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin
    }) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      Similarity.srpTopK(emb, dim = 64, nPlanes = 8, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
        .orderBy("query_id", "rank")
    },

    // ── IVF ANN: coarse-quantize the corpus into inverted lists, probe the
    //    2 nearest cells per query, exact-score only the probed lists. The
    //    coarse centroids here are the 16 lowest-id corpus vectors (a
    //    deterministic stand-in for a k-means fit — the engine mechanics
    //    are identical and the oracle can re-derive them from the data). ──
    QueryDef("q48_ann_ivf", IvfSql) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      // Collect the 16 coarse centroids (driver-side state in any real IVF
      // build — a k-means fit lives on the driver too) and plant them as
      // plan literals: corpus assignment stays a map-only pass.
      val cents = emb.where(col("id") < 16).orderBy(col("id")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq
      Similarity.ivfTopK(emb.where(col("id") % 50 === 0), emb, cents,
          nprobe = 2, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
        .orderBy("query_id", "rank")
    },

    // ── IVF against a PERSISTED index: same ANN answer as q48, but the
    //    cell assignments + centroids make a parquet round trip first —
    //    the minHashSignatures contract for ANN (fit once, assign once,
    //    write; every probe batch reads inverted lists, never re-assigns
    //    the corpus or refits the quantizer). The oracle is q48's: the
    //    storage round trip must be result-invisible. ──
    QueryDef("q73_ann_ivf_index", IvfSql) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      val cents = emb.where(col("id") < 16).orderBy(col("id")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq
      val dir = java.nio.file.Files.createTempDirectory("graft-ivf-index").toString
      // Build + store: assignments partitioned by cell (a probe's cell
      // filter prunes whole inverted lists at the file level), centroids
      // as the tiny companion table.
      Similarity.ivfIndex(emb, cents)
        .write.mode("overwrite").partitionBy("_cell").parquet(s"$dir/assign")
      Similarity.ivfCentroidsDf(s, cents)
        .write.mode("overwrite").parquet(s"$dir/cents")
      // Serve the probe batch purely from storage.
      val storedCents = Similarity.ivfCentroidsFrom(s.read.parquet(s"$dir/cents"))
      Similarity.ivfTopKAgainstIndex(emb.where(col("id") % 50 === 0),
          s.read.parquet(s"$dir/assign"), storedCents, nprobe = 2, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
        .orderBy("query_id", "rank")
    },

    // ── q130: INCREMENTAL index append — the recurring-crawl contract
    //    for the ANN tier (graphIndexAppend's story): build the stored
    //    index on the corpus' first 60%, append the rest as a "crawl
    //    delta" that re-sees 10% (the id anti-join drops the overlap),
    //    serve the same probe batch. The oracle is q48/q73's: append vs
    //    rebuild must be result-invisible under the frozen quantizer. ──
    QueryDef("q130_ann_index_append", IvfSql) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      val cents = emb.where(col("id") < 16).orderBy(col("id")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq
      val n = emb.count()
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ivf-append").toString
      Similarity.ivfIndex(emb.where(col("id") < lit(n * 6 / 10)), cents)
        .write.mode("overwrite").partitionBy("_cell").parquet(s"$dir/assign")
      Similarity.ivfIndexAppend(s,
        emb.where(col("id") >= lit(n / 2)), // re-sees the 50-60% decile
        cents, s"$dir/assign")
      Similarity.ivfTopKAgainstIndex(emb.where(col("id") % 50 === 0),
          s.read.parquet(s"$dir/assign"), cents, nprobe = 2, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
        .orderBy("query_id", "rank")
    },

    // ── q133: ANN recall@k — the standing index-quality eval: the
    //    persisted-IVF serving path (q73's exact pipeline) measured
    //    against brute-force ground truth on the same query batch.
    //    Recall is the dial nprobe trades against; at scale it is
    //    measured continuously on a sampled batch, never assumed. The
    //    oracle replays BOTH paths (q48's and q23's proven CTEs) and the
    //    per-query intersection. ──
    QueryDef("q133_ann_recall",
      """WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
        |w AS (SELECT id, vec, sqrt(list_inner_product(vec, vec)) AS n FROM v),
        |cents AS (SELECT id AS cid, vec AS cvec, n AS cn FROM w WHERE id < 16),
        |assign AS (
        |  SELECT id, cid AS cell FROM (
        |    SELECT c.id, t.cid,
        |      ROW_NUMBER() OVER (PARTITION BY c.id
        |        ORDER BY round(list_inner_product(c.vec, t.cvec) / (c.n * t.cn), 6)
        |                 DESC, t.cid) AS rk
        |    FROM w c, cents t) WHERE rk = 1),
        |probes AS (
        |  SELECT id AS query_id, cid AS cell FROM (
        |    SELECT c.id, t.cid,
        |      ROW_NUMBER() OVER (PARTITION BY c.id
        |        ORDER BY round(list_inner_product(c.vec, t.cvec) / (c.n * t.cn), 6)
        |                 DESC, t.cid) AS rk
        |    FROM w c, cents t WHERE c.id % 50 = 0) WHERE rk <= 2),
        |ascored AS (
        |  SELECT p.query_id, a.id AS neighbor_id,
        |    round(list_inner_product(q.vec, x.vec) / (q.n * x.n), 6) AS sim
        |  FROM probes p
        |  JOIN assign a ON a.cell = p.cell AND a.id <> p.query_id
        |  JOIN w q ON q.id = p.query_id
        |  JOIN w x ON x.id = a.id),
        |appr AS (SELECT query_id, neighbor_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rank FROM ascored)
        |  WHERE rank <= 10),
        |bscored AS (
        |  SELECT q.id AS query_id, x.id AS neighbor_id,
        |    round(list_inner_product(q.vec, x.vec) / (q.n * x.n), 6) AS sim
        |  FROM w q JOIN w x ON x.id <> q.id WHERE q.id % 50 = 0),
        |tr AS (SELECT query_id, neighbor_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rank FROM bscored)
        |  WHERE rank <= 10),
        |nt AS (SELECT query_id, count(*) AS n_truth FROM tr GROUP BY 1),
        |h AS (SELECT a.query_id, count(*) AS n_hits
        |      FROM appr a JOIN tr USING (query_id, neighbor_id) GROUP BY 1)
        |SELECT nt.query_id,
        |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits, nt.n_truth,
        |  CAST(coalesce(h.n_hits, 0) * CAST(1000000 AS BIGINT)
        |    // nt.n_truth AS BIGINT) AS recall_ppm
        |FROM nt LEFT JOIN h USING (query_id)
        |ORDER BY query_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      val cents = emb.where(col("id") < 16).orderBy(col("id")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ivf-recall").toString
      Similarity.ivfIndex(emb, cents)
        .write.mode("overwrite").partitionBy("_cell").parquet(s"$dir/assign")
      val queries = emb.where(col("id") % 50 === 0)
      val approx = Similarity.ivfTopKAgainstIndex(queries,
        s.read.parquet(s"$dir/assign"), cents, nprobe = 2, k = 10)
      val truth = Similarity.bruteForceTopK(queries, emb, k = 10)
      Similarity.topKRecall(approx, truth).orderBy("query_id")
    },

    // ── q139: SemDeDup — semantic (embedding-level) dedup, cluster-
    //    bounded: assign every vector to its nearest coarse centroid
    //    (q48's frozen 16-lowest-id quantizer), compare only within a
    //    cell, drop any vector with a lower-id cell-mate at cosine ≥
    //    0.35. The cell bound is the whole point at 100 TB: k independent
    //    |cell|²-blocks instead of a global pair frame; cross-cell dups
    //    are missed BY DESIGN (the exact/CC path is q57/q58). The oracle
    //    replays assignment (q48's proven CTE) + the within-cell pair
    //    count. ──
    QueryDef("q139_semdedup",
      """WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
        |w AS (SELECT id, vec, sqrt(list_inner_product(vec, vec)) AS n FROM v),
        |cents AS (SELECT id AS cid, vec AS cvec, n AS cn FROM w WHERE id < 16),
        |assign AS (
        |  SELECT id, cid AS cell FROM (
        |    SELECT c.id, t.cid,
        |      ROW_NUMBER() OVER (PARTITION BY c.id
        |        ORDER BY round(list_inner_product(c.vec, t.cvec) / (c.n * t.cn), 6)
        |                 DESC, t.cid) AS rk
        |    FROM w c, cents t) WHERE rk = 1),
        |d AS (
        |  SELECT a.id, count(*) AS n_dups
        |  FROM assign a JOIN assign b ON a.cell = b.cell AND b.id < a.id
        |  JOIN w x ON x.id = a.id JOIN w y ON y.id = b.id
        |  WHERE round(list_inner_product(x.vec, y.vec) / (x.n * y.n), 6) >= 0.35
        |  GROUP BY 1)
        |SELECT a.id AS vec_id, CAST(a.cell AS INT) AS cell,
        |  CAST(coalesce(d.n_dups, 0) AS BIGINT) AS n_dups,
        |  CAST(d.n_dups IS NULL AS INT) AS keep
        |FROM assign a LEFT JOIN d ON a.id = d.id
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      val cents = emb.where(col("id") < 16).orderBy(col("id")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq
      Similarity.semDedup(emb, "id", "vec", cents, threshold = 0.35)
        .select(col("id").as("vec_id"), col("cell"), col("n_dups"),
          col("keep"))
        .orderBy("vec_id")
    },

    // ── q141: int8 scalar quantization of the embedding store — 4× on
    //    the wire before PQ (q92) is even considered. floor(x·127/m+0.5)
    //    rather than round(): the whole pack is IEEE-double bit-exact
    //    across engines, so codes AND the reconstruction-error audit
    //    column replay in DuckDB verbatim. Map-only, no shuffle. codes
    //    serialize to a space-joined string at the query boundary (the
    //    q84 convention — declared queries emit SCALAR columns only;
    //    the driver's comparator can't sort raw arrays). ──
    QueryDef("q141_int8_quantize",
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        |m AS (SELECT vec_id, vec,
        |        list_max([abs(x) FOR x IN vec]) AS am FROM v)
        |SELECT vec_id, am AS absmax,
        |  array_to_string(CASE WHEN am = 0
        |    THEN [CAST(0 AS BIGINT) FOR x IN vec]
        |    ELSE [CAST(floor(x * 127.0 / am + 0.5) AS BIGINT) FOR x IN vec]
        |  END, ' ') AS codes,
        |  round(CASE WHEN am = 0 THEN 0.0
        |    ELSE list_max([abs(x - floor(x * 127.0 / am + 0.5) * am / 127.0)
        |                   FOR x IN vec]) END, 6) AS max_abs_err
        |FROM m ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      Similarity.scalarQuantizeInt8(emb, "vec_id", "vec")
        .select(col("vec_id"), col("absmax"),
          array_join(transform(col("codes"), _.cast("string")), " ")
            .as("codes"),
          col("max_abs_err"))
        .orderBy("vec_id")
    },

    // ── q142: c-TF-IDF cluster labels (BERTopic's labeling stage) —
    //    each class ranked by its most DISTINCTIVE terms, here keyed on
    //    language (any cluster id works — SemDeDup cells, CC components,
    //    sources). round(ln,6) idf (q81's convention), one product per
    //    score, salted two-phase per-class top-n. ──
    QueryDef("q142_ctfidf_labels",
      """WITH toks AS (SELECT lang AS cluster,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents WHERE trim(text) <> ''),
        |tf AS (SELECT cluster, term, count(*) AS tf FROM toks
        |       WHERE term <> '' GROUP BY 1, 2),
        |ft AS (SELECT term, sum(tf) AS ft FROM tf GROUP BY 1),
        |tot AS (SELECT sum(tf) AS tot, count(DISTINCT cluster) AS nc FROM tf),
        |s AS (SELECT cluster, tf.term, tf,
        |    round(tf * round(ln(1 + (CAST(tot AS DOUBLE) / nc) / ft), 6), 6)
        |      AS score
        |  FROM tf JOIN ft USING (term) CROSS JOIN tot),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
        |        ORDER BY score DESC, term) AS rank FROM s)
        |SELECT cluster, term, CAST(tf AS BIGINT) AS tf, score,
        |  CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 10
        |ORDER BY cluster, rank""".stripMargin) { (s, d) =>
      Scoring.cTfIdfTopTerms(
          Tables.documents(s, d).select(col("lang"), col("text")),
          "lang", "text", topN = 10)
        .orderBy("cluster", "rank")
    },

    // ── q144: calibration table (reliability diagram + ECE) for a score
    //    gate — here a length-based 'is English' toy gate (score =
    //    clamped n_chars·2000 ppm, label = lang='en'), which is exactly
    //    the audit a real learned gate gets before its threshold is
    //    trusted. Pure integer/HUGEINT arithmetic both sides; summing
    //    ece_contrib_ppm is the ECE. ──
    QueryDef("q144_calibration",
      """WITH s AS (SELECT least(1000000, n_chars * 2000) AS sc,
        |    CAST(lang = 'en' AS BIGINT) AS y FROM documents),
        |b AS (SELECT CAST(least(CAST(sc AS HUGEINT) * 10 // 1000000, 9) AS INT)
        |        AS bin, sc, y FROM s),
        |a AS (SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
        |        CAST(sum(sc) AS BIGINT) AS sum_score_ppm FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM a)
        |SELECT bin, n, n_pos, sum_score_ppm,
        |  CAST(CAST(sum_score_ppm AS HUGEINT) // n AS BIGINT) AS conf_ppm,
        |  CAST(CAST(n_pos AS HUGEINT) * 1000000 // n AS BIGINT) AS acc_ppm,
        |  CAST(abs(CAST(n_pos AS HUGEINT) * 1000000 - sum_score_ppm) // nt
        |    AS BIGINT) AS ece_contrib_ppm
        |FROM a CROSS JOIN t ORDER BY bin""".stripMargin) { (s, d) =>
      Scoring.calibrationBins(
          Tables.documents(s, d).select(
            least(lit(1000000L), col("n_chars") * 2000).as("score_ppm"),
            (col("lang") === "en").cast("int").as("label")),
          "score_ppm", "label", bins = 10)
        .orderBy("bin")
    },

    // ── q146: threshold sweep — q144's companion: WHERE to cut the gate.
    //    One aggregation pass to bins rows, then suffix sums from the top
    //    bin give tp/fp/fn + floored-ppm precision/recall/F1 per candidate
    //    threshold. Same toy gate as q144 so the two audits line up. ──
    QueryDef("q146_threshold_sweep",
      """WITH s AS (SELECT least(1000000, n_chars * 2000) AS sc,
        |    CAST(lang = 'en' AS BIGINT) AS y FROM documents),
        |b AS (SELECT CAST(least(CAST(sc AS HUGEINT) * 10 // 1000000, 9) AS INT)
        |        AS bin, y FROM s),
        |a AS (SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS npos
        |      FROM b GROUP BY 1),
        |dn AS (SELECT g.bin, coalesce(a.n, 0) AS n, coalesce(a.npos, 0) AS npos
        |       FROM (SELECT CAST(unnest(generate_series(0, 9)) AS INT) AS bin) g
        |       LEFT JOIN a USING (bin)),
        |sf AS (SELECT bin, n, npos,
        |    sum(npos) OVER (ORDER BY bin DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
        |    sum(n) OVER (ORDER BY bin DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp,
        |    sum(npos) OVER () AS pos
        |  FROM dn)
        |SELECT CAST((CAST(bin AS HUGEINT) * 1000000 + 9) // 10 AS BIGINT)
        |    AS thr_ppm,
        |  CAST(tp AS BIGINT) AS tp, CAST(pp - tp AS BIGINT) AS fp,
        |  CAST(pos - tp AS BIGINT) AS fn,
        |  CASE WHEN pp = 0 THEN 0
        |    ELSE CAST(CAST(tp AS HUGEINT) * 1000000 // pp AS BIGINT)
        |  END AS precision_ppm,
        |  CASE WHEN pos = 0 THEN 0
        |    ELSE CAST(CAST(tp AS HUGEINT) * 1000000 // pos AS BIGINT)
        |  END AS recall_ppm,
        |  CASE WHEN pp + pos = 0 THEN 0
        |    ELSE CAST(CAST(tp AS HUGEINT) * 2000000 // (pp + pos) AS BIGINT)
        |  END AS f1_ppm
        |FROM sf ORDER BY thr_ppm""".stripMargin) { (s, d) =>
      Scoring.thresholdSweep(
          Tables.documents(s, d).select(
            least(lit(1000000L), col("n_chars") * 2000).as("score_ppm"),
            (col("lang") === "en").cast("int").as("label")),
          "score_ppm", "label", bins = 10)
        .orderBy("thr_ppm")
    },

    // ── q195: distributed classifier FIT for the quality gate — the
    //    training half of q82's scorer: full-batch least-squares gradient
    //    descent (±1e6 integer-micro targets, 3 epochs, lr 0.25) over
    //    md5-60 hashed token frequencies + an intercept feature
    //    (bucket −1). Every epoch is pure integer arithmetic (div ≡
    //    DuckDB // — probed on negatives), so the oracle replays the
    //    ENTIRE training trajectory epoch by epoch, not just a final
    //    score. Label: lang = 'en' (q144's gate). ──
    QueryDef("q195_classifier_fit", LinFitSql) { (s, d) =>
      Scoring.hashedLinearFit(
          Tables.documents(s, d).select(col("doc_id"), col("text"),
            (col("lang") === "en").cast("int").as("label")),
          "doc_id", "text", "label", buckets = 512, epochs = 3,
          lrPpm = 250000L)
        .orderBy("bucket")
    },

    // ── q197: train → serve → operate in one chain — q195's learned
    //    weights (≤ buckets+1 rows, collected driver-side like every
    //    quantizer) fed through q82's scorer, micro-quantized + clamped,
    //    then q146's operating-point sweep: the full quality-gate
    //    lifecycle proven to compose (the q162 chain discipline). ──
    QueryDef("q197_fit_serve_sweep", FitServeSweepSql) { (s, d) =>
      val labeled = Tables.documents(s, d).select(col("doc_id"),
        col("text"), (col("lang") === "en").cast("int").as("label"))
      val fitRows = Scoring.hashedLinearFit(labeled, "doc_id", "text",
        "label", buckets = 512, epochs = 3, lrPpm = 250000L).collect()
      val intercept = fitRows.find(_.getLong(0) == -1L)
        .map(_.getLong(1)).getOrElse(0L).toDouble / 1e6
      import s.implicits._
      val weights = fitRows.filter(_.getLong(0) >= 0L)
        .map(r => (r.getLong(0), r.getLong(1).toDouble / 1e6)).toSeq
        .toDF("bucket", "weight")
      val scored = Scoring.hashedLinearScore(Tables.documents(s, d),
        "doc_id", "text", weights, buckets = 512, intercept = intercept)
      Scoring.thresholdSweep(
          scored.join(labeled.select(col("doc_id"), col("label")),
              Seq("doc_id"))
            .select(least(lit(1000000L), greatest(lit(0L),
              col("score_ppm"))).as("score_ppm"), col("label")),
          "score_ppm", "label", bins = 10)
        .orderBy("thr_ppm")
    },

    // ── q196: IVF quantizer drift audit — WHICH cells of a frozen
    //    coarse quantizer (q139/q73's) have rotated away from their
    //    member mass: per cell, cosine distance (micro-units) between
    //    the stored centroid and the members' decimal-exact mean (the
    //    Lloyd-step optimum), refit-flagged above 190000 ppm. The
    //    decision input of ivfCentroidRefresh, published as the
    //    between-refresh alert. Oracle replays assignment (q145's CTE),
    //    per-dim decimal means, and the cosine ladder. ──
    QueryDef("q196_ivf_drift",
      """WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
        |w AS (SELECT id, vec, sqrt(list_inner_product(vec, vec)) AS n FROM v),
        |cents AS (SELECT id AS cid, vec AS cvec FROM w WHERE id < 16),
        |assign AS (
        |  SELECT id, cid AS cell FROM (
        |    SELECT c.id, t.cid,
        |      ROW_NUMBER() OVER (PARTITION BY c.id
        |        ORDER BY round(list_inner_product(c.vec, t.cvec) /
        |          (c.n * sqrt(list_inner_product(t.cvec, t.cvec))), 6)
        |                 DESC, t.cid) AS rk
        |    FROM w c, cents t) WHERE rk = 1),
        |mem AS (SELECT cell, vec FROM assign JOIN w USING (id)),
        |dims AS (SELECT cell, unnest(generate_series(1, len(vec))) AS d,
        |           unnest(vec) AS x FROM mem),
        |agg AS (SELECT cell, d, (CASE WHEN sum(CAST(round(x, 6)
        |          AS DECIMAL(38,12))) < 0 THEN -1 ELSE 1 END
        |        * (CAST(abs(sum(CAST(round(x, 6) AS DECIMAL(38,12))))
        |             * 1000000 AS HUGEINT) // count(*))) / 1000000.0 AS c,
        |    count(*) AS nn
        |  FROM dims GROUP BY 1, 2),
        |mv AS (SELECT cell, list(c ORDER BY d) AS mv,
        |         CAST(max(nn) AS BIGINT) AS n FROM agg GROUP BY 1),
        |base AS (SELECT mv.cell, n, mv, cvec
        |         FROM mv JOIN cents ON mv.cell = cents.cid),
        |rep AS (SELECT cell, n,
        |    CASE WHEN sqrt(list_inner_product(mv, mv)) <> 0 THEN
        |      1000000 - CAST(floor(round(list_inner_product(mv, cvec) /
        |        (sqrt(list_inner_product(mv, mv)) *
        |         sqrt(list_inner_product(cvec, cvec))), 6) * 1000000.0
        |        + 0.5) AS BIGINT)
        |    END AS drift_ppm
        |  FROM base)
        |SELECT CAST(cell AS INT) AS cell, n, drift_ppm,
        |  CAST(coalesce(drift_ppm > 190000, FALSE) AS INT) AS refit
        |FROM rep ORDER BY cell""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      val cents = emb.where(col("id") < 16).orderBy(col("id")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq
      Similarity.ivfCellDrift(Similarity.ivfIndex(emb, cents), cents,
          driftPpm = 190000L)
        .orderBy("cell")
    },

    // ── q145: SemDeDup → c-TF-IDF composition — dedupe the corpus
    //    semantically (q139), then NAME each embedding cell by its
    //    survivors' most distinctive terms (q142): the two round-15
    //    stages chained the way a curation run uses them, proving they
    //    compose without hidden coupling (the q85/q126 discipline). The
    //    oracle replays the full chain: assignment, within-cell dedup,
    //    survivor token table, c-TF-IDF ranking. ──
    QueryDef("q145_semdedup_labels",
      """WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
        |w AS (SELECT id, vec, sqrt(list_inner_product(vec, vec)) AS n FROM v),
        |cents AS (SELECT id AS cid, vec AS cvec, n AS cn FROM w WHERE id < 16),
        |assign AS (
        |  SELECT id, cid AS cell FROM (
        |    SELECT c.id, t.cid,
        |      ROW_NUMBER() OVER (PARTITION BY c.id
        |        ORDER BY round(list_inner_product(c.vec, t.cvec) / (c.n * t.cn), 6)
        |                 DESC, t.cid) AS rk
        |    FROM w c, cents t) WHERE rk = 1),
        |dups AS (
        |  SELECT DISTINCT a.id
        |  FROM assign a JOIN assign b ON a.cell = b.cell AND b.id < a.id
        |  JOIN w x ON x.id = a.id JOIN w y ON y.id = b.id
        |  WHERE round(list_inner_product(x.vec, y.vec) / (x.n * y.n), 6) >= 0.35),
        |keepd AS (SELECT a.id, a.cell FROM assign a
        |          LEFT JOIN dups USING (id) WHERE dups.id IS NULL),
        |toks AS (SELECT CAST(k.cell AS INT) AS cluster,
        |    unnest(regexp_split_to_array(lower(trim(t.text)), '\s+')) AS term
        |  FROM keepd k JOIN documents t ON t.doc_id = k.id
        |  WHERE trim(t.text) <> ''),
        |tf AS (SELECT cluster, term, count(*) AS tf FROM toks
        |       WHERE term <> '' GROUP BY 1, 2),
        |ft AS (SELECT term, sum(tf) AS ft FROM tf GROUP BY 1),
        |tot AS (SELECT sum(tf) AS tot, count(DISTINCT cluster) AS nc FROM tf),
        |s2 AS (SELECT cluster, tf.term, tf,
        |    round(tf * round(ln(1 + (CAST(tot AS DOUBLE) / nc) / ft), 6), 6)
        |      AS score
        |  FROM tf JOIN ft USING (term) CROSS JOIN tot),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
        |        ORDER BY score DESC, term) AS rank FROM s2)
        |SELECT cluster, term, CAST(tf AS BIGINT) AS tf, score,
        |  CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 5
        |ORDER BY cluster, rank""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      val cents = emb.where(col("id") < 16).orderBy(col("id")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq
      val kept = Similarity.semDedup(emb, "id", "vec", cents,
          threshold = 0.35)
        .where(col("keep") === 1).select(col("id"), col("cell"))
      val joined = kept.join(Tables.documents(s, d),
          kept("id") === col("doc_id"))
        .select(col("cell"), col("text"))
      Scoring.cTfIdfTopTerms(joined, "cell", "text", topN = 5)
        .orderBy("cluster", "rank")
    },

    // ── q147: embedding-level DECONTAMINATION — the train corpus
    //    (vec_id%10≠0) checked against a reference/eval set (vec_id%10=0)
    //    with q139's geometry: same frozen quantizer, comparisons bounded
    //    to a cell, but the compare side is the (small, broadcast) eval
    //    table — the paraphrase-level train/test-overlap audit that the
    //    lexical tier (q70/q74 span matching) misses. Cross-cell leaks
    //    missed BY DESIGN (same contract as q139). ──
    QueryDef("q147_cross_semdedup",
      """WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
        |w AS (SELECT id, vec, sqrt(list_inner_product(vec, vec)) AS n FROM v),
        |cents AS (SELECT id AS cid, vec AS cvec, n AS cn FROM w WHERE id < 16),
        |assign AS (
        |  SELECT id, cid AS cell FROM (
        |    SELECT c.id, t.cid,
        |      ROW_NUMBER() OVER (PARTITION BY c.id
        |        ORDER BY round(list_inner_product(c.vec, t.cvec) / (c.n * t.cn), 6)
        |                 DESC, t.cid) AS rk
        |    FROM w c, cents t) WHERE rk = 1),
        |c AS (SELECT * FROM assign WHERE id % 10 <> 0),
        |r AS (SELECT * FROM assign WHERE id % 10 = 0),
        |d AS (
        |  SELECT c.id, count(*) AS n_contam
        |  FROM c JOIN r ON c.cell = r.cell
        |  JOIN w x ON x.id = c.id JOIN w y ON y.id = r.id
        |  WHERE round(list_inner_product(x.vec, y.vec) / (x.n * y.n), 6) >= 0.35
        |  GROUP BY 1)
        |SELECT c.id AS vec_id, CAST(c.cell AS INT) AS cell,
        |  CAST(coalesce(d.n_contam, 0) AS BIGINT) AS n_contam,
        |  CAST(d.n_contam IS NULL AS INT) AS keep
        |FROM c LEFT JOIN d ON c.id = d.id
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      val cents = emb.where(col("id") < 16).orderBy(col("id")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq
      Similarity.crossSemDedup(emb.where(col("id") % 10 =!= 0),
          emb.where(col("id") % 10 === 0), "id", "vec", cents,
          threshold = 0.35)
        .select(col("id").as("vec_id"), col("cell"), col("n_contam"),
          col("keep"))
        .orderBy("vec_id")
    },

    // ── q148: int8-quantized ANN serving — top-k cosine scored DIRECTLY
    //    on q141's codes (absmax cancels in cosine, so the score is a
    //    pure function of the integer codes; every intermediate is an
    //    exact integer in double — the rare brute-force scorer with NO
    //    rounding dependence before the 6-dp publish). A quarter of the
    //    scan bytes of q23 at the same plan shape. ──
    QueryDef("q148_int8_topk",
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        |m AS (SELECT vec_id, vec,
        |        list_max([abs(x) FOR x IN vec]) AS am FROM v),
        |q8 AS (SELECT vec_id,
        |        CASE WHEN am = 0 THEN [0.0 FOR x IN vec]
        |             ELSE [floor(x * 127.0 / am + 0.5) FOR x IN vec]
        |        END AS c FROM m),
        |n8 AS (SELECT vec_id, c, sqrt(list_inner_product(c, c)) AS n FROM q8),
        |q AS (SELECT * FROM n8 WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CASE WHEN q.n * c.n = 0 THEN 0.0
        |         ELSE round(list_inner_product(q.c, c.c) / (q.n * c.n), 6)
        |    END AS sim
        |  FROM q, n8 c WHERE c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, sim, rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |                               ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      val codes = Similarity.scalarQuantizeInt8(emb, "vec_id", "vec")
      Similarity.int8TopK(codes.where(col("vec_id") % 50 === 0), codes,
          "vec_id", k = 10)
        .orderBy("query_id", "rank")
    },

    // ── q149: int8 serving recall audit — q148's quantized ranks scored
    //    against q23's float brute-force truth (the q133 discipline for
    //    the int8 tier): the compression is only trustworthy WITH its
    //    measured recall, and the measurement is itself a declared,
    //    oracle-checked query. ──
    QueryDef("q149_int8_recall",
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        |w AS (SELECT vec_id, vec, sqrt(list_inner_product(vec, vec)) AS n FROM v),
        |tq AS (SELECT * FROM w WHERE vec_id % 50 = 0),
        |tsc AS (
        |  SELECT tq.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_inner_product(tq.vec, c.vec) / (tq.n * c.n), 6) AS sim
        |  FROM tq, w c WHERE c.vec_id <> tq.vec_id),
        |truth AS (SELECT query_id, neighbor_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rank FROM tsc)
        |  WHERE rank <= 10),
        |m AS (SELECT vec_id, vec, list_max([abs(x) FOR x IN vec]) AS am FROM v),
        |q8 AS (SELECT vec_id,
        |        CASE WHEN am = 0 THEN [0.0 FOR x IN vec]
        |             ELSE [floor(x * 127.0 / am + 0.5) FOR x IN vec]
        |        END AS c FROM m),
        |n8 AS (SELECT vec_id, c, sqrt(list_inner_product(c, c)) AS n FROM q8),
        |aq AS (SELECT * FROM n8 WHERE vec_id % 50 = 0),
        |asc0 AS (
        |  SELECT aq.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CASE WHEN aq.n * c.n = 0 THEN 0.0
        |         ELSE round(list_inner_product(aq.c, c.c) / (aq.n * c.n), 6)
        |    END AS sim
        |  FROM aq, n8 c WHERE c.vec_id <> aq.vec_id),
        |approx AS (SELECT query_id, neighbor_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS rank FROM asc0)
        |  WHERE rank <= 10),
        |nt AS (SELECT query_id, count(*) AS n_truth FROM truth GROUP BY 1),
        |h AS (SELECT a.query_id, count(*) AS n_hits
        |      FROM approx a JOIN truth t
        |        ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
        |      GROUP BY 1)
        |SELECT nt.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(nt.n_truth AS BIGINT) AS n_truth,
        |  CAST(coalesce(h.n_hits, 0) * CAST(1000000 AS BIGINT)
        |    // nt.n_truth AS BIGINT) AS recall_ppm
        |FROM nt LEFT JOIN h ON h.query_id = nt.query_id
        |ORDER BY nt.query_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      val queries = emb.where(col("id") % 50 === 0)
      val truth = Similarity.bruteForceTopK(queries, emb, k = 10)
      val codes = Similarity.scalarQuantizeInt8(
        emb.withColumnRenamed("id", "vec_id"), "vec_id", "vec")
      val approx = Similarity.int8TopK(
        codes.where(col("vec_id") % 50 === 0), codes, "vec_id", k = 10)
      Similarity.topKRecall(approx, truth).orderBy("query_id")
    },

    // ── q150: diversity-capped global top-k — the best 30 documents by
    //    length, at most 3 from any one source: the anti-domination form
    //    of score-ranked selection (q86 keeps a fraction, q80 caps a
    //    stratum; this is the GLOBAL budget with a per-stratum ceiling).
    //    Both phases are salted two-phase windows; the final window sees
    //    a provably bounded row set. ──
    QueryDef("q150_diverse_topk",
      """WITH r AS (SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS srk
        |  FROM documents),
        |c AS (SELECT * FROM r WHERE srk <= 3),
        |g AS (SELECT *, ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id)
        |        AS rk FROM c)
        |SELECT doc_id, source, n_chars, CAST(srk AS INT) AS stratum_rank,
        |  CAST(rk AS INT) AS rank
        |FROM g WHERE rk <= 30
        |ORDER BY rank""".stripMargin) { (s, d) =>
      Sampling.diverseTopK(
          Tables.documents(s, d).select(col("doc_id"), col("source"),
            col("n_chars")),
          "source", "doc_id", k = 30, perStratum = 3,
          ord = Seq(col("n_chars").desc))
        .orderBy("rank")
    },

    // ── q151: SoftDeDup weights — q57's cluster table turned into
    //    per-doc sampling weights (1000000 div cluster_size, exact ppm)
    //    instead of drops: each duplicate neighborhood contributes one
    //    doc's worth of mass in expectation, no copy is lost. Same pair
    //    graph + closure as q57. ──
    QueryDef("q151_soft_dedup",
      s"""WITH RECURSIVE pairs AS ($JaccardPairsSql),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
         |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
         |         FROM reach GROUP BY u),
         |asg AS (SELECT d.doc_id,
         |          COALESCE(c.cluster_id, d.doc_id) AS cluster_id
         |        FROM documents d LEFT JOIN comp c USING (doc_id)),
         |sz AS (SELECT cluster_id, count(*) AS cluster_size
         |       FROM asg GROUP BY 1)
         |SELECT a.doc_id, a.cluster_id,
         |  CAST(sz.cluster_size AS BIGINT) AS cluster_size,
         |  CAST(1000000 // sz.cluster_size AS BIGINT) AS weight_ppm
         |FROM asg a JOIN sz USING (cluster_id)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // cluster table served from the shared closure frame (r20)
      Dedup.softDedupWeights(SharedFrames.lexClusters(s, d),
          "doc_id", "cluster_id")
        .orderBy("doc_id")
    },

    // ── q153: temperature-softmax mixture weights (the DoReMi-family
    //    score→weight step): per-source score = round(ln(1+Σn_chars),6)
    //    (a stand-in for per-domain excess loss — any score column
    //    works; division-free on purpose, a mean-of-6dp-values lands
    //    round() on exact decimal halves where engines disagree) →
    //    weight ∝ exp((score − max score)/τ) at τ=0.5 — MAX-SHIFTED so
    //    every exp ∈ (0,1], the regime where Round6's guard is provable
    //    (unshifted exp reached 1e8+ where no 6-dp round of a libm
    //    output certifies; shift-invariance keeps weights identical) —
    //    published as exact integral-division ppm for the samplers
    //    (q78/q140 consume ppm weight tables). ──
    QueryDef("q153_mixture_weights",
      """WITH a AS (SELECT source,
        |        round(ln(1 + sum(n_chars)), 6) AS score
        |      FROM documents GROUP BY 1),
        |mx AS (SELECT max(score) AS m FROM a),
        |e AS (SELECT source, score,
        |        round(exp((score - m) / 0.5), 6) AS b FROM a CROSS JOIN mx),
        |e2 AS (SELECT source, score, b,
        |         CAST(floor(b * 1000000.0 + 0.5) AS BIGINT) AS bu FROM e),
        |t AS (SELECT sum(bu) AS tot FROM e2)
        |SELECT source, score, b AS boltzmann_6,
        |  CAST(CAST(bu AS HUGEINT) * 1000000 // tot AS BIGINT) AS weight_ppm
        |FROM e2 CROSS JOIN t
        |ORDER BY source""".stripMargin) { (s, d) =>
      val stats = Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(graft.ops.Round6.guarded(log(lit(1) + sum(col("n_chars"))),
          "q153 fixture score").as("score"))
      Sampling.mixtureWeights(stats, "source", "score", tau = 0.5)
        .orderBy("source")
    },

    // ── q154: semantic components — the vector tier feeding the graph
    //    tier: cell-bounded kNN graph (q48's frozen quantizer, k=3
    //    neighbors within a cell) → connected components → one semantic
    //    cluster id per vector (the NN-graph corpus-clustering recipe).
    //    The oracle replays assignment, within-cell ranking, edge
    //    symmetrization, and the recursive closure. ──
    QueryDef("q154_semantic_components",
      """WITH RECURSIVE
        |v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
        |w AS (SELECT id, vec, sqrt(list_inner_product(vec, vec)) AS n FROM v),
        |cents AS (SELECT id AS cid, vec AS cvec, n AS cn FROM w WHERE id < 16),
        |assign AS (
        |  SELECT id, cid AS cell FROM (
        |    SELECT c.id, t.cid,
        |      ROW_NUMBER() OVER (PARTITION BY c.id
        |        ORDER BY round(list_inner_product(c.vec, t.cvec) / (c.n * t.cn), 6)
        |                 DESC, t.cid) AS rk
        |    FROM w c, cents t WHERE c.n <> 0) WHERE rk = 1),
        |sc AS (
        |  SELECT a.id AS qid, b.id AS nid,
        |    round(list_inner_product(x.vec, y.vec) / (x.n * y.n), 6) AS sim
        |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.id <> b.id
        |  JOIN w x ON x.id = a.id JOIN w y ON y.id = b.id
        |  WHERE y.n <> 0),
        |knn AS (SELECT qid, nid FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, nid) AS rk FROM sc) WHERE rk <= 3),
        |e AS (SELECT qid AS u, nid AS v FROM knn
        |      UNION SELECT nid, qid FROM knn),
        |reach(u, v) AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
        |comp AS (SELECT u AS id, LEAST(u, MIN(v)) AS cluster_id
        |         FROM reach GROUP BY u)
        |SELECT w.id AS vec_id, COALESCE(c.cluster_id, w.id) AS cluster_id,
        |  CAST(COALESCE(c.cluster_id, w.id) = w.id AS INT) AS keep
        |FROM w LEFT JOIN comp c ON c.id = w.id
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      val cents = emb.where(col("id") < 16).orderBy(col("id")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq
      val edges = Similarity.knnGraph(emb, "id", "vec", cents, k = 3)
        .select(col("id").as("doc_a"), col("neighbor_id").as("doc_b"))
      Dedup.dedupAssign(emb.select(col("id")), "id", edges)
        .select(col("id").as("vec_id"), col("cluster_id"), col("keep"))
        .orderBy("vec_id")
    },

    // ── q155: contrastive positive pairs from the near-dup cluster table
    //    (q57's graph) — path pairing with m=2 successors in id order:
    //    n·m pairs per cluster instead of n², every member connected.
    //    The complement of q123's hard negatives: the dedup tier's
    //    byproduct IS the supervised contrastive training set. ──
    QueryDef("q155_positive_pairs",
      s"""WITH RECURSIVE pairs AS ($JaccardPairsSql),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
         |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
         |         FROM reach GROUP BY u),
         |asg AS (SELECT d.doc_id,
         |          COALESCE(c.cluster_id, d.doc_id) AS cluster_id
         |        FROM documents d LEFT JOIN comp c USING (doc_id)),
         |mult AS (SELECT cluster_id FROM asg GROUP BY 1
         |         HAVING count(*) > 1),
         |mem AS (SELECT a.cluster_id, a.doc_id,
         |          ROW_NUMBER() OVER (PARTITION BY a.cluster_id
         |            ORDER BY a.doc_id) AS rn
         |        FROM asg a JOIN mult USING (cluster_id))
         |SELECT a.cluster_id, a.doc_id AS id_a, b.doc_id AS id_b
         |FROM mem a JOIN mem b ON a.cluster_id = b.cluster_id
         |  AND b.rn > a.rn AND b.rn <= a.rn + 2
         |ORDER BY a.cluster_id, id_a, id_b""".stripMargin) { (s, d) =>
      // cluster table served from the shared closure frame (r20)
      Dedup.positivePairs(SharedFrames.lexClusters(s, d),
          "doc_id", "cluster_id", m = 2)
        .orderBy("cluster_id", "id_a", "id_b")
    },

    // ── q156: per-language robust z-scores (median/MAD) over a quality
    //    signal — cross-population score normalization so ONE global
    //    threshold compares fairly across languages; value-based lower
    //    medians (never interpolated), MAD over |x−med|, z published as
    //    SIGNED integer ppm (sign · (|x−med|·10⁶ // mad) — trunc-toward-
    //    zero on both engines; never a rounded double ratio, the q171
    //    divergence class). The oracle replays both medians with plain
    //    cumulative windows (the q131 two-level ≡ one-level equivalence
    //    is spec-pinned). ──
    QueryDef("q156_robust_z",
      """WITH s AS (SELECT doc_id, lang, n_chars FROM documents),
        |c AS (SELECT lang, n_chars AS v, count(*) AS c FROM s GROUP BY 1, 2),
        |cum AS (SELECT lang, v,
        |          sum(c) OVER (PARTITION BY lang ORDER BY v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |          sum(c) OVER (PARTITION BY lang) AS n
        |        FROM c),
        |med AS (SELECT lang, min(v) AS median FROM cum
        |        WHERE cum * 2 >= n GROUP BY 1),
        |dv AS (SELECT s.lang, abs(s.n_chars - m.median) AS v
        |       FROM s JOIN med m USING (lang)),
        |dc AS (SELECT lang, v, count(*) AS c FROM dv GROUP BY 1, 2),
        |dcum AS (SELECT lang, v,
        |           sum(c) OVER (PARTITION BY lang ORDER BY v
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |           sum(c) OVER (PARTITION BY lang) AS n
        |         FROM dc),
        |mad AS (SELECT lang, min(v) AS mad FROM dcum
        |        WHERE cum * 2 >= n GROUP BY 1)
        |SELECT s.doc_id, s.lang, s.n_chars, m.median, a.mad,
        |  CASE WHEN a.mad <> 0
        |       THEN CAST((CASE WHEN s.n_chars < m.median THEN -1 ELSE 1 END)
        |         * (abs(CAST(s.n_chars AS HUGEINT) - m.median) * 1000000
        |              // a.mad) AS BIGINT)
        |  END AS z_ppm
        |FROM s JOIN med m USING (lang) JOIN mad a USING (lang)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Scoring.robustZScores(
          Tables.documents(s, d).select(col("doc_id"), col("lang"),
            col("n_chars")),
          "lang", "n_chars")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("median"),
          col("mad"), col("z_ppm"))
        .orderBy("doc_id")
    },

    // ── q157: Stupid-Backoff trigram LM (Brants et al. 2007) fitted on
    //    the 'en' reference slice, scoring ALL docs — the CCNet shape
    //    proper (clean-reference model over raw corpus; q81 is the
    //    self-fit bigram tier, which never backs off). Non-en docs
    //    exercise every backoff branch incl. the OOV floor. ──
    QueryDef("q157_trigram_backoff",
      """WITH t AS (SELECT doc_id, lang, CASE WHEN trim(text) = '' THEN []
        |             ELSE regexp_split_to_array(lower(trim(text)), '\s+') END
        |             AS toks
        |           FROM documents),
        |tg AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |         FOR i IN generate_series(1, len(toks)-2)]) AS g FROM t),
        |rt AS (SELECT toks FROM t WHERE lang = 'en'),
        |c123 AS (SELECT g, count(*) AS c123 FROM (
        |    SELECT unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |      FOR i IN generate_series(1, len(toks)-2)]) AS g FROM rt)
        |  GROUP BY 1),
        |cbg AS (SELECT g, count(*) AS cbg FROM (
        |    SELECT unnest([toks[i] || ' ' || toks[i+1]
        |      FOR i IN generate_series(1, len(toks)-1)]) AS g FROM rt)
        |  GROUP BY 1),
        |cun AS (SELECT tok, count(*) AS cun FROM (
        |    SELECT unnest(toks) AS tok FROM rt) WHERE tok <> '' GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM (
        |    SELECT unnest(toks) AS tok FROM rt) WHERE tok <> ''),
        |lp AS (SELECT doc_id,
        |    CAST(round(-ln(
        |      CASE WHEN t3.c123 IS NOT NULL
        |             THEN t3.c123 / CAST(b12.cbg AS DOUBLE)
        |           WHEN b23.cbg IS NOT NULL
        |             THEN 0.4 * (b23.cbg / CAST(u2.cun AS DOUBLE))
        |           ELSE 0.4 * 0.4 * (coalesce(u3.cun, 1) / nn.n) END), 6)
        |      AS DECIMAL(18,6)) AS lp
        |  FROM tg
        |  LEFT JOIN c123 t3 ON t3.g = tg.g
        |  LEFT JOIN cbg b12
        |    ON b12.g = split_part(tg.g, ' ', 1) || ' ' || split_part(tg.g, ' ', 2)
        |  LEFT JOIN cbg b23
        |    ON b23.g = split_part(tg.g, ' ', 2) || ' ' || split_part(tg.g, ' ', 3)
        |  LEFT JOIN cun u2 ON u2.tok = split_part(tg.g, ' ', 2)
        |  LEFT JOIN cun u3 ON u3.tok = split_part(tg.g, ' ', 3)
        |  CROSS JOIN nn),
        |d AS (SELECT doc_id, count(*) AS n_trigrams,
        |        CAST(CAST(sum(lp) * 1000000 AS HUGEINT) // count(*)
        |          AS BIGINT) AS ce_ppm
        |      FROM lp GROUP BY 1)
        |SELECT doc_id, coalesce(n_trigrams, 0) AS n_trigrams, ce_ppm
        |FROM documents LEFT JOIN d USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Scoring.trigramLmScore(docs, "doc_id", "text",
          docs.where(col("lang") === "en"), "text")
        .orderBy("doc_id")
    },

    // ── q158: margin-based bitext mining (Artetxe & Schwenk 2019 ratio
    //    margin): src batch (vec_id%10=0) against the tgt corpus — each
    //    pair's cosine normalized by both endpoints' k-NN neighborhood
    //    means (the hubness correction), best-margin target per src,
    //    mutual-argmax flag. Full chain replayed: sims, per-side top-4
    //    decimal means, margins, both argmaxes. ──
    QueryDef("q158_bitext_margin",
      """WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
        |w AS (SELECT id, vec, sqrt(list_inner_product(vec, vec)) AS n FROM v),
        |s AS (SELECT id AS sid, vec, n FROM w WHERE id % 10 = 0 AND n <> 0),
        |t2 AS (SELECT id AS tid, vec, n FROM w WHERE id % 10 <> 0 AND n <> 0),
        |sc AS (SELECT sid, tid,
        |         round(list_inner_product(s.vec, t2.vec) / (s.n * t2.n), 6)
        |           AS sim
        |       FROM s, t2),
        |sc2 AS (SELECT sid, tid, sim,
        |          CAST(floor(sim * 1000000.0 + 0.5) AS BIGINT) AS su
        |        FROM sc),
        |fr AS (SELECT sid, tid, su, ROW_NUMBER() OVER (PARTITION BY sid
        |         ORDER BY sim DESC, tid) AS rk FROM sc2),
        |mx AS (SELECT sid, CAST(sum(su) AS BIGINT) AS sx, count(*) AS nx
        |       FROM fr WHERE rk <= 4 GROUP BY 1),
        |br AS (SELECT sid, tid, su, ROW_NUMBER() OVER (PARTITION BY tid
        |         ORDER BY sim DESC, sid) AS rk FROM sc2),
        |my AS (SELECT tid, CAST(sum(su) AS BIGINT) AS sy, count(*) AS ny
        |       FROM br WHERE rk <= 4 GROUP BY 1),
        |mg AS (SELECT sc2.sid, sc2.tid, sim,
        |         CAST((CASE WHEN su < 0 THEN -1 ELSE 1 END)
        |           * (abs(CAST(su AS HUGEINT) * 2 * nx * ny) * 1000000
        |              // (sx * ny + sy * nx)) AS BIGINT) AS margin_ppm
        |       FROM sc2 JOIN mx USING (sid) JOIN my USING (tid)
        |       WHERE sx * ny + sy * nx > 0),
        |fwd AS (SELECT sid, tid, sim, margin_ppm FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY sid
        |      ORDER BY margin_ppm DESC, tid) AS rk FROM mg) WHERE rk = 1),
        |bwd AS (SELECT sid, tid FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY tid
        |      ORDER BY margin_ppm DESC, sid) AS rk FROM mg) WHERE rk = 1)
        |SELECT f.sid AS src_id, f.tid AS tgt_id, f.sim, f.margin_ppm,
        |  CAST(b.sid IS NOT NULL AS INT) AS mutual
        |FROM fwd f LEFT JOIN bwd b ON b.sid = f.sid AND b.tid = f.tid
        |ORDER BY src_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      Similarity.marginPairs(emb.where(col("id") % 10 === 0),
          emb.where(col("id") % 10 =!= 0), "id", "vec", k = 4)
        .orderBy("src_id")
    },

    // ── q159: vocabulary-growth curve (Heaps'-law audit) — new distinct
    //    terms per 50-doc ingestion bucket + running total: a flat tail
    //    means the crawl re-ingests what it has (failed dedup), a linear
    //    tail means unbounded junk tokens. First-occurrence bucketing is
    //    a pure function of the corpus. ──
    QueryDef("q159_vocab_growth",
      """WITH toks AS (SELECT doc_id, unnest(CASE WHEN trim(text) = '' THEN []
        |    ELSE regexp_split_to_array(lower(trim(text)), '\s+') END) AS tok
        |  FROM documents),
        |tk AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        |pb AS (SELECT doc_id // 50 AS bucket, count(*) AS n_tokens
        |       FROM tk GROUP BY 1),
        |ft AS (SELECT tok, min(doc_id) AS f FROM tk GROUP BY 1),
        |nt AS (SELECT f // 50 AS bucket, count(*) AS new_terms
        |       FROM ft GROUP BY 1)
        |SELECT pb.bucket, CAST(pb.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(coalesce(nt.new_terms, 0) AS BIGINT) AS new_terms,
        |  CAST(sum(coalesce(nt.new_terms, 0)) OVER (ORDER BY pb.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_terms
        |FROM pb LEFT JOIN nt USING (bucket)
        |ORDER BY bucket""".stripMargin) { (s, d) =>
      graft.ops.Profile.vocabularyGrowth(Tables.documents(s, d), "doc_id",
          "text", bucketSize = 50L)
        .orderBy("bucket")
    },

    // ── q160: rank-biased overlap between the int8 serving run (q148)
    //    and the float brute-force truth (q23's chain) — the
    //    rank-SENSITIVE index audit (q149's recall says the right SET
    //    comes back; RBO says in the right ORDER, top-weighted at
    //    p=0.9). The per-depth contribution table is interpolated into
    //    the oracle from the op's own constants (shared-literal
    //    lockstep). ──
    QueryDef("q160_rbo_int8",
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
         |w AS (SELECT vec_id, vec, sqrt(list_inner_product(vec, vec)) AS n
         |      FROM v),
         |tq AS (SELECT * FROM w WHERE vec_id % 50 = 0),
         |tsc AS (
         |  SELECT tq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_inner_product(tq.vec, c.vec) / (tq.n * c.n), 6) AS sim
         |  FROM tq, w c WHERE c.vec_id <> tq.vec_id),
         |ra AS (SELECT query_id, neighbor_id, rank FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS rank FROM tsc)
         |  WHERE rank <= 10),
         |m AS (SELECT vec_id, vec, list_max([abs(x) FOR x IN vec]) AS am
         |      FROM v),
         |q8 AS (SELECT vec_id,
         |        CASE WHEN am = 0 THEN [0.0 FOR x IN vec]
         |             ELSE [floor(x * 127.0 / am + 0.5) FOR x IN vec]
         |        END AS c FROM m),
         |n8 AS (SELECT vec_id, c, sqrt(list_inner_product(c, c)) AS n FROM q8),
         |aq AS (SELECT * FROM n8 WHERE vec_id % 50 = 0),
         |asc0 AS (
         |  SELECT aq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    CASE WHEN aq.n * c.n = 0 THEN 0.0
         |         ELSE round(list_inner_product(aq.c, c.c) / (aq.n * c.n), 6)
         |    END AS sim
         |  FROM aq, n8 c WHERE c.vec_id <> aq.vec_id),
         |rb AS (SELECT query_id, neighbor_id, rank FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS rank FROM asc0)
         |  WHERE rank <= 10),
         |mt AS (SELECT ra.query_id,
         |         greatest(ra.rank, rb.rank) AS md
         |       FROM ra JOIN rb ON rb.query_id = ra.query_id
         |         AND rb.neighbor_id = ra.neighbor_id),
         |sc2 AS (SELECT query_id,
         |          round(CAST(sum(CASE md ${RboTailCaseSql} END) AS DOUBLE), 6)
         |            AS rbo
         |        FROM mt GROUP BY 1)
         |SELECT q.query_id, coalesce(sc2.rbo, 0.0) AS rbo
         |FROM (SELECT DISTINCT query_id FROM ra) q
         |LEFT JOIN sc2 USING (query_id)
         |ORDER BY query_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      val queries = emb.where(col("id") % 50 === 0)
      val truth = Similarity.bruteForceTopK(queries, emb, k = 10)
      val codes = Similarity.scalarQuantizeInt8(
        emb.withColumnRenamed("id", "vec_id"), "vec_id", "vec")
      val approx = Similarity.int8TopK(
        codes.where(col("vec_id") % 50 === 0), codes, "vec_id", k = 10)
      Similarity.rankBiasedOverlap(truth, approx, k = 10, p = 0.9)
        .orderBy("query_id")
    },

    // ── q205: Kendall τ between the int8 run and the float truth — the
    //    pairwise-ORDER audit next to q160's RBO over the same fixture
    //    (same candidates in a scrambled order shows here, not there).
    //    Shared-doc pairs only, strict ranks → C + D = n(n−1)/2; τ
    //    published as SIGNED integer ppm via one integral division
    //    (sign split, div ≡ //) — never a rounded double ratio. ──
    QueryDef("q205_kendall_tau",
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
         |w AS (SELECT vec_id, vec, sqrt(list_inner_product(vec, vec)) AS n
         |      FROM v),
         |tq AS (SELECT * FROM w WHERE vec_id % 50 = 0),
         |tsc AS (
         |  SELECT tq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_inner_product(tq.vec, c.vec) / (tq.n * c.n), 6) AS sim
         |  FROM tq, w c WHERE c.vec_id <> tq.vec_id),
         |ra AS (SELECT query_id, neighbor_id, rank FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS rank FROM tsc)
         |  WHERE rank <= 10),
         |m AS (SELECT vec_id, vec, list_max([abs(x) FOR x IN vec]) AS am
         |      FROM v),
         |q8 AS (SELECT vec_id,
         |        CASE WHEN am = 0 THEN [0.0 FOR x IN vec]
         |             ELSE [floor(x * 127.0 / am + 0.5) FOR x IN vec]
         |        END AS c FROM m),
         |n8 AS (SELECT vec_id, c, sqrt(list_inner_product(c, c)) AS n FROM q8),
         |aq AS (SELECT * FROM n8 WHERE vec_id % 50 = 0),
         |asc0 AS (
         |  SELECT aq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    CASE WHEN aq.n * c.n = 0 THEN 0.0
         |         ELSE round(list_inner_product(aq.c, c.c) / (aq.n * c.n), 6)
         |    END AS sim
         |  FROM aq, n8 c WHERE c.vec_id <> aq.vec_id),
         |rb AS (SELECT query_id, neighbor_id, rank FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS rank FROM asc0)
         |  WHERE rank <= 10),
         |shared AS (SELECT ra.query_id, ra.neighbor_id,
         |             ra.rank AS rka, rb.rank AS rkb
         |           FROM ra JOIN rb ON rb.query_id = ra.query_id
         |             AND rb.neighbor_id = ra.neighbor_id),
         |nn AS (SELECT query_id, count(*) AS n_common FROM shared
         |       GROUP BY 1),
         |pr AS (SELECT i.query_id,
         |         CASE WHEN (i.rka < j.rka) = (i.rkb < j.rkb)
         |              THEN 1 ELSE 0 END AS conc
         |       FROM shared i JOIN shared j
         |         ON j.query_id = i.query_id
         |         AND i.neighbor_id < j.neighbor_id),
         |cd AS (SELECT query_id, CAST(sum(conc) AS BIGINT) AS concordant,
         |         CAST(sum(1 - conc) AS BIGINT) AS discordant
         |       FROM pr GROUP BY 1)
         |SELECT nn.query_id, nn.n_common,
         |  coalesce(cd.concordant, 0) AS concordant,
         |  coalesce(cd.discordant, 0) AS discordant,
         |  CASE WHEN nn.n_common >= 2 THEN
         |    CAST((CASE WHEN coalesce(cd.concordant, 0)
         |                    < coalesce(cd.discordant, 0)
         |           THEN -1 ELSE 1 END)
         |      * ((abs(coalesce(cd.concordant, 0)
         |              - coalesce(cd.discordant, 0)) * 1000000)
         |         // (coalesce(cd.concordant, 0)
         |            + coalesce(cd.discordant, 0))) AS BIGINT)
         |  END AS tau_ppm
         |FROM nn LEFT JOIN cd USING (query_id)
         |ORDER BY query_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      val queries = emb.where(col("id") % 50 === 0)
      val truth = Similarity.bruteForceTopK(queries, emb, k = 10)
      val codes = Similarity.scalarQuantizeInt8(
        emb.withColumnRenamed("id", "vec_id"), "vec_id", "vec")
      val approx = Similarity.int8TopK(
        codes.where(col("vec_id") % 50 === 0), codes, "vec_id", k = 10)
      Similarity.kendallTau(truth, approx).orderBy("query_id")
    },

    // ── q161: per-dimension embedding-store statistics — the vector-
    //    corpus health monitor (collapsed dims, runaway dims, shifted
    //    means) run before any index build trusts the store; decimal-
    //    exact moment sums (the q122 convention) published as integer
    //    ppm via pico-unit integral division — the second moment rather
    //    than the variance (m2 − mean² squares a rational; the consumer
    //    derives var in one IEEE step from two exact integers). ──
    QueryDef("q161_embedding_stats",
      """WITH v AS (SELECT embedding::DOUBLE[] AS vec FROM embeddings),
        |ex AS (SELECT unnest(generate_series(1, len(vec))) - 1 AS d,
        |         unnest(vec) AS x FROM v),
        |a AS (SELECT CAST(d AS INT) AS d, count(*) AS n,
        |        CAST(sum(CAST(x AS DECIMAL(38,12))) * 1000000000000
        |          AS HUGEINT) AS sp,
        |        CAST(sum(CAST(x * x AS DECIMAL(38,12))) * 1000000000000
        |          AS HUGEINT) AS ssp,
        |        min(x) AS min_x, max(x) AS max_x
        |      FROM ex GROUP BY 1)
        |SELECT d, n,
        |  CAST((CASE WHEN sp < 0 THEN -1 ELSE 1 END)
        |    * ((abs(sp) * 1000000) // (CAST(n AS HUGEINT) * 1000000000000))
        |    AS BIGINT) AS mean_ppm,
        |  CAST((ssp * 1000000) // (CAST(n AS HUGEINT) * 1000000000000)
        |    AS BIGINT) AS m2_ppm,
        |  min_x, max_x
        |FROM a
        |ORDER BY d""".stripMargin) { (s, d) =>
      Similarity.embeddingStats(
          Tables.embeddings(s, d).select(col("vec_id"),
            transform(col("embedding"), _.cast("double")).as("vec")),
          "vec_id", "vec", dim = 64)
        .orderBy("d")
    },

    // ── q162: curated epoch plan — three round-15 stages chained the
    //    way a recipe uses them (the q85/q126/q145 composition
    //    discipline): per-language robust-z length gate (|z| ≤ 2 keeps
    //    length-sane docs) → per-source available tokens → softmax
    //    mixture weights over round(ln(1+avail),6) → budget epoch plan.
    //    mixtureWeights' ppm output feeds epochPlan's weight contract
    //    directly — no glue. ──
    QueryDef("q162_curated_epoch_plan",
      """WITH s AS (SELECT doc_id, lang, source, text, n_chars FROM documents),
        |c AS (SELECT lang, n_chars AS v, count(*) AS c FROM s GROUP BY 1, 2),
        |cum AS (SELECT lang, v,
        |          sum(c) OVER (PARTITION BY lang ORDER BY v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |          sum(c) OVER (PARTITION BY lang) AS n
        |        FROM c),
        |med AS (SELECT lang, min(v) AS median FROM cum
        |        WHERE cum * 2 >= n GROUP BY 1),
        |dv AS (SELECT s.lang, abs(s.n_chars - m.median) AS v
        |       FROM s JOIN med m USING (lang)),
        |dc AS (SELECT lang, v, count(*) AS c FROM dv GROUP BY 1, 2),
        |dcum AS (SELECT lang, v,
        |           sum(c) OVER (PARTITION BY lang ORDER BY v
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |           sum(c) OVER (PARTITION BY lang) AS n
        |         FROM dc),
        |mad AS (SELECT lang, min(v) AS mad FROM dcum
        |        WHERE cum * 2 >= n GROUP BY 1),
        |kept AS (SELECT s.* FROM s JOIN med m USING (lang)
        |         JOIN mad a USING (lang)
        |         WHERE a.mad <> 0
        |           AND abs(CAST(s.n_chars AS HUGEINT) - m.median) * 1000000
        |                 // a.mad <= 2000000),
        |tok AS (SELECT source,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
        |  FROM kept),
        |avail AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS available_tokens
        |          FROM tok GROUP BY 1),
        |sc3 AS (SELECT source, available_tokens,
        |          round(ln(1 + available_tokens), 6) AS score FROM avail),
        |mx3 AS (SELECT max(score) AS m FROM sc3),
        |e AS (SELECT source, available_tokens, score,
        |        round(exp((score - m) / 1.0), 6) AS b
        |      FROM sc3 CROSS JOIN mx3),
        |e2 AS (SELECT source, available_tokens, b,
        |         CAST(floor(b * 1000000.0 + 0.5) AS BIGINT) AS bu FROM e),
        |t AS (SELECT sum(bu) AS tot FROM e2),
        |wt AS (SELECT source, available_tokens,
        |         CAST(CAST(bu AS HUGEINT) * 1000000 // tot AS BIGINT)
        |           AS weight_ppm
        |       FROM e2 CROSS JOIN t),
        |p AS (SELECT source, available_tokens, weight_ppm,
        |    CAST(CAST(50000 AS HUGEINT) * weight_ppm // 1000000 AS BIGINT)
        |      AS target_tokens,
        |    CAST(CAST(available_tokens AS HUGEINT) * 1000000 // 1000000
        |      AS BIGINT) AS cap
        |  FROM wt)
        |SELECT source, available_tokens, weight_ppm, target_tokens,
        |  least(target_tokens, cap) AS planned_tokens,
        |  CASE WHEN available_tokens = 0 THEN 0
        |    ELSE CAST(CAST(least(target_tokens, cap) AS HUGEINT) * 1000000
        |      // available_tokens AS BIGINT) END AS epochs_ppm,
        |  target_tokens - least(target_tokens, cap) AS shortfall_tokens
        |FROM p
        |ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val kept = Scoring.robustZScores(docs, "lang", "n_chars")
        .where(col("z_ppm").isNotNull && abs(col("z_ppm")) <= 2000000L)
      // pinned: the token-count frame feeds BOTH the mixture-weight
      // branch and the epoch plan — without it the robust-z chain (two
      // two-level quantile passes over the corpus) runs twice (the q113
      // double-scan lesson).
      val avail = graft.core.Caches.pin(kept.select(col("source"),
          graft.functions.TextFunctions.tokenCountWs(col("text")).as("n_tok")))
      val stats = avail.groupBy(col("source"))
        .agg(sum(col("n_tok").cast("long")).as("available_tokens"))
        .select(col("source"),
          graft.ops.Round6.guarded(log(lit(1) + col("available_tokens")),
            "q162 fixture score").as("score"))
      val weights = Sampling.mixtureWeights(stats, "source", "score",
          tau = 1.0)
        .select(col("source"), col("weight_ppm"))
      Sampling.epochPlan(avail, "source", "n_tok", weights, budget = 50000L,
          maxEpochsPpm = 1000000L)
        .orderBy("source")
    },

    // ── q163: cluster-agreement audit (ARI + NMI) between the LEXICAL
    //    near-dup clusters (q57's closure over 8-gram Jaccard) and the
    //    SEMANTIC coarse cells (q139's frozen quantizer) on the shared
    //    id space — the eval that says how far one clustering tier can
    //    proxy for another. ARI is one integer ratio (HUGEINT products,
    //    no division until the end); NMI uses integer-weighted round-6
    //    entropies summed as decimal. ──
    QueryDef("q163_cluster_agreement",
      s"""WITH RECURSIVE pairs AS ($JaccardPairsSql),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
         |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
         |         FROM reach GROUP BY u),
         |asg AS (SELECT d.doc_id AS id,
         |          COALESCE(c.cluster_id, d.doc_id) AS a
         |        FROM documents d LEFT JOIN comp c USING (doc_id)),
         |v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
         |w AS (SELECT id, vec, sqrt(list_inner_product(vec, vec)) AS n FROM v),
         |cents AS (SELECT id AS cid, vec AS cvec, n AS cn FROM w WHERE id < 16),
         |assign AS (
         |  SELECT id, cid AS b FROM (
         |    SELECT c.id, t.cid,
         |      ROW_NUMBER() OVER (PARTITION BY c.id
         |        ORDER BY round(list_inner_product(c.vec, t.cvec) / (c.n * t.cn), 6)
         |                 DESC, t.cid) AS rk
         |    FROM w c, cents t) WHERE rk = 1),
         |j AS (SELECT asg.a, assign.b FROM asg JOIN assign USING (id)),
         |cont AS (SELECT a, b, count(*) AS nij FROM j GROUP BY 1, 2),
         |ai AS (SELECT a, CAST(sum(nij) AS BIGINT) AS ai FROM cont GROUP BY 1),
         |bj AS (SELECT b, CAST(sum(nij) AS BIGINT) AS bj FROM cont GROUP BY 1),
         |tot AS (SELECT CAST(sum(nij) AS BIGINT) AS n,
         |          sum(CAST(nij AS HUGEINT) * (nij - 1)) AS sij FROM cont),
         |sa AS (SELECT sum(CAST(ai AS HUGEINT) * (ai - 1)) AS sa FROM ai),
         |sb AS (SELECT sum(CAST(bj AS HUGEINT) * (bj - 1)) AS sb FROM bj),
         |mi AS (SELECT sum(CAST(nij * round(ln(
         |           CAST(n AS DOUBLE) * nij
         |             / (CAST(ai AS DOUBLE) * bj)), 6) AS DECIMAL(38,6)))
         |         AS minv
         |       FROM cont JOIN ai USING (a) JOIN bj USING (b) CROSS JOIN tot),
         |ha AS (SELECT sum(CAST(ai * round(ln(CAST(n AS DOUBLE) / ai), 6)
         |         AS DECIMAL(38,6))) AS han FROM ai CROSS JOIN tot),
         |hb AS (SELECT sum(CAST(bj * round(ln(CAST(n AS DOUBLE) / bj), 6)
         |         AS DECIMAL(38,6))) AS hbn FROM bj CROSS JOIN tot),
         |fin AS (SELECT tot.n,
         |    2 * (sij * CAST(n AS HUGEINT) * (n - 1) - sa * sb) AS anum,
         |    (sa + sb) * CAST(n AS HUGEINT) * (n - 1) - 2 * sa * sb AS aden,
         |    CAST(minv * 1000000 AS HUGEINT) AS miu,
         |    CAST((han + hbn) * 1000000 AS HUGEINT) AS hu
         |  FROM tot CROSS JOIN sa CROSS JOIN sb CROSS JOIN mi
         |  CROSS JOIN ha CROSS JOIN hb)
         |SELECT n,
         |  CASE WHEN aden <> 0 THEN
         |    CAST((CASE WHEN anum < 0 THEN -1 ELSE 1 END)
         |      * ((abs(anum) * 1000000) // aden) AS BIGINT) END AS ari_ppm,
         |  CASE WHEN hu <> 0 THEN
         |    CAST((CASE WHEN miu < 0 THEN -1 ELSE 1 END)
         |      * ((abs(miu) * 2000000) // hu) AS BIGINT) END AS nmi_ppm
         |FROM fin""".stripMargin) { (s, d) =>
      // Served from the SHARED closure frames (r20): both inputs are the
      // audit tier's fit-once artifacts ([[SharedFrames]]) — only the
      // agreement math itself runs live here. Result-identical to the
      // inline build (the oracle still replays everything from raw text).
      val lex = SharedFrames.lexClusters(s, d)
        .select(col("doc_id").as("id"), col("cluster_id"))
      val sem = SharedFrames.semCells(s, d)
      Scoring.clusterAgreement(lex, sem, "id", "cluster_id", "_cell")
    },

    // ── q164: WARC record parsing — the crawl-ingestion front door:
    //    per-source WARC text (synthesized deterministically from the
    //    docs, string_agg ordered by id) split back into records with
    //    WARC-Type / WARC-Target-URI extracted and payloads isolated;
    //    the whole round trip (construction AND parse) replays in the
    //    oracle, so framing, header, and payload rules are pinned
    //    byte-for-byte. ──
    QueryDef("q164_warc_parse",
      """WITH rec AS (SELECT source, doc_id,
        |    'WARC/1.0' || chr(10) || 'WARC-Type: response' || chr(10) ||
        |    'WARC-Target-URI: https://ex.com/doc/' ||
        |    CAST(doc_id AS VARCHAR) || chr(10) || chr(10) ||
        |    text || chr(10) AS r
        |  FROM documents),
        |wa AS (SELECT source, string_agg(r, '' ORDER BY doc_id) AS warc
        |       FROM rec GROUP BY 1),
        |sp AS (SELECT source,
        |         unnest(generate_series(1, len(pieces))) - 1 AS record_idx,
        |         unnest(pieces) AS piece
        |       FROM (SELECT source,
        |               regexp_split_to_array(warc, 'WARC/1\.0\r?\n')
        |                 AS pieces
        |             FROM wa))
        |SELECT source, CAST(record_idx AS INT) AS record_idx,
        |  regexp_extract(piece, '(?m)^WARC-Type: ([^\r\n]+)', 1)
        |    AS warc_type,
        |  regexp_extract(piece, '(?m)^WARC-Target-URI: ([^\r\n]+)', 1)
        |    AS target_uri,
        |  CASE WHEN regexp_matches(piece, '\r?\n\r?\n')
        |       THEN regexp_replace(piece, '(?s)^.*?\r?\n\r?\n', '')
        |       ELSE '' END AS payload
        |FROM sp WHERE record_idx > 0
        |ORDER BY source, record_idx""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val rec = concat(lit("WARC/1.0\n"), lit("WARC-Type: response\n"),
        lit("WARC-Target-URI: https://ex.com/doc/"),
        col("doc_id").cast("string"), lit("\n\n"), col("text"), lit("\n"))
      val warc = docs
        .select(col("source"), struct(col("doc_id"), rec.as("r")).as("sr"))
        .groupBy(col("source"))
        .agg(array_join(transform(array_sort(collect_list(col("sr"))),
          x => x.getField("r")), "").as("warc"))
      Text.warcRecords(warc, "source", "warc")
        .orderBy("source", "record_idx")
    },

    // ── q165: robots.txt compliance — per-domain robots parsed into the
    //    `User-agent: *` group's rules (multi-agent blocks, ignored
    //    leading groups, empty-Disallow idiom), then the longest-prefix
    //    decision per URL (allow wins length ties, no match = allowed).
    //    Odd-digit domains carry a second star group (Allow: /tmp/keep)
    //    so group resolution is exercised, not assumed. ──
    QueryDef("q165_robots",
      """WITH doms AS (SELECT DISTINCT source FROM documents),
        |rob AS (SELECT source || '.com' AS dom,
        |    'User-agent: bot' || chr(10) || 'Disallow: /' || chr(10) ||
        |    'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10) ||
        |    'Allow: /private/ok' || chr(10) || 'Disallow: /tmp' || chr(10) ||
        |    'Disallow:' ||
        |    CASE WHEN regexp_matches(source, '[13579]$')
        |         THEN chr(10) || 'User-agent: a' || chr(10) ||
        |              'User-agent: *' || chr(10) || 'Allow: /tmp/keep'
        |         ELSE '' END AS txt
        |  FROM doms),
        |ln AS (SELECT dom, unnest(generate_series(1, len(ls))) - 1 AS pos,
        |         unnest(ls) AS line
        |       FROM (SELECT dom, regexp_split_to_array(txt, '\r?\n') AS ls
        |             FROM rob)),
        |t AS (SELECT dom, pos, line, lower(trim(line)) AS l FROM ln),
        |t2 AS (SELECT *, (l LIKE 'user-agent:%') AS isagent,
        |         (l LIKE 'user-agent:%' AND trim(substr(l, 12)) = '*')
        |           AS isstar
        |       FROM t),
        |t3 AS (SELECT *, CASE WHEN isagent AND NOT coalesce(
        |         lag(isagent) OVER (PARTITION BY dom ORDER BY pos), false)
        |         THEN 1 ELSE 0 END AS nb FROM t2),
        |t4 AS (SELECT *, sum(nb) OVER (PARTITION BY dom ORDER BY pos
        |         ROWS UNBOUNDED PRECEDING) AS bid FROM t3),
        |star AS (SELECT dom, bid FROM t4 WHERE isagent GROUP BY 1, 2
        |         HAVING max(CASE WHEN isstar THEN 1 ELSE 0 END) = 1),
        |rules AS (SELECT DISTINCT t4.dom,
        |    trim(regexp_replace(line, '(?i)^\s*(allow|disallow):', ''))
        |      AS rule_path,
        |    CAST(l LIKE 'allow:%' AS INT) AS is_allow
        |  FROM t4 JOIN star USING (dom, bid)
        |  WHERE regexp_matches(l, '^(allow|disallow):')),
        |rules2 AS (SELECT * FROM rules WHERE rule_path <> ''),
        |urls AS (SELECT
        |    'https://' || source || '.com' ||
        |    CASE doc_id % 5 WHEN 0 THEN '/private/x'
        |         WHEN 1 THEN '/private/ok/y' WHEN 2 THEN '/tmp/z'
        |         WHEN 3 THEN '/tmp/keep/w'
        |         ELSE '/public/p' || CAST(doc_id AS VARCHAR) END AS url,
        |    source || '.com' AS host,
        |    CASE doc_id % 5 WHEN 0 THEN '/private/x'
        |         WHEN 1 THEN '/private/ok/y' WHEN 2 THEN '/tmp/z'
        |         WHEN 3 THEN '/tmp/keep/w'
        |         ELSE '/public/p' || CAST(doc_id AS VARCHAR) END AS path
        |  FROM documents),
        |cand AS (SELECT u.url, r.rule_path, r.is_allow
        |         FROM urls u JOIN rules2 r ON r.dom = u.host
        |         WHERE substr(u.path, 1, len(r.rule_path)) = r.rule_path),
        |best AS (SELECT url, rule_path AS matched_rule, is_allow FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY url
        |      ORDER BY len(rule_path) DESC, is_allow DESC, rule_path) AS rk
        |    FROM cand) WHERE rk = 1)
        |SELECT u.url, u.host, u.path, b.matched_rule,
        |  CAST(coalesce(b.is_allow, 1) AS INT) AS allowed
        |FROM urls u LEFT JOIN best b USING (url)
        |ORDER BY url""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val base = "User-agent: bot\nDisallow: /\nUser-agent: *\n" +
        "Disallow: /private\nAllow: /private/ok\nDisallow: /tmp\nDisallow:"
      val extra = "\nUser-agent: a\nUser-agent: *\nAllow: /tmp/keep"
      val robots = docs.select(col("source")).distinct()
        .select(concat(col("source"), lit(".com")).as("domain"),
          when(col("source").rlike("[13579]$"),
            concat(lit(base), lit(extra))).otherwise(lit(base)).as("txt"))
      val path = col("doc_id") % 5
      val pathCol = when(path === 0, lit("/private/x"))
        .when(path === 1, lit("/private/ok/y"))
        .when(path === 2, lit("/tmp/z"))
        .when(path === 3, lit("/tmp/keep/w"))
        .otherwise(concat(lit("/public/p"), col("doc_id").cast("string")))
      val urls = docs.select(concat(lit("https://"), col("source"),
        lit(".com"), pathCol).as("url"))
      val rules = Web.robotsRules(robots, "domain", "txt")
      Web.robotsAllowed(urls, "url", rules).orderBy("url")
    },

    // ── q166: join-key skew profile — the pre-shuffle audit: heaviest
    //    keys with exact counts and floored-ppm share (the saltedJoin /
    //    AQE-skew trigger, made measurable). ──
    QueryDef("q166_key_skew",
      """WITH c AS (SELECT CAST(event_type AS VARCHAR) AS key,
        |             count(*) AS cnt FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM c),
        |r AS (SELECT key, cnt,
        |        ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rank FROM c)
        |SELECT key, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(CAST(cnt AS HUGEINT) * 1000000 // tot AS BIGINT) AS share_ppm,
        |  CAST(rank AS INT) AS rank
        |FROM r CROSS JOIN t WHERE rank <= 3
        |ORDER BY rank""".stripMargin) { (s, d) =>
      graft.ops.Profile.keySkew(
          graft.queries.RelationalQueries.eventsNs(s, d)
            .select(col("event_type")),
          "event_type", topK = 3)
        .orderBy("rank")
    },

    // ── q167: crawl-admission funnel — the ingestion gates chained the
    //    way a crawler runs them: per-doc URL → robots longest-prefix
    //    decision (q165's rules) AND C4 content gate (q137's page) →
    //    per-source fetched/robots-allowed/content-kept/admitted counts.
    //    Composition discipline: both gates' full logic replays in ONE
    //    oracle, proving no hidden coupling. ──
    QueryDef("q167_crawl_funnel",
      """WITH doms AS (SELECT DISTINCT source FROM documents),
        |rob AS (SELECT source || '.com' AS dom,
        |    'User-agent: bot' || chr(10) || 'Disallow: /' || chr(10) ||
        |    'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10) ||
        |    'Allow: /private/ok' || chr(10) || 'Disallow: /tmp' || chr(10) ||
        |    'Disallow:' ||
        |    CASE WHEN regexp_matches(source, '[13579]$')
        |         THEN chr(10) || 'User-agent: a' || chr(10) ||
        |              'User-agent: *' || chr(10) || 'Allow: /tmp/keep'
        |         ELSE '' END AS txt
        |  FROM doms),
        |ln AS (SELECT dom, unnest(generate_series(1, len(ls))) - 1 AS pos,
        |         unnest(ls) AS line
        |       FROM (SELECT dom, regexp_split_to_array(txt, '\r?\n') AS ls
        |             FROM rob)),
        |t AS (SELECT dom, pos, line, lower(trim(line)) AS l FROM ln),
        |t2 AS (SELECT *, (l LIKE 'user-agent:%') AS isagent,
        |         (l LIKE 'user-agent:%' AND trim(substr(l, 12)) = '*')
        |           AS isstar
        |       FROM t),
        |t3 AS (SELECT *, CASE WHEN isagent AND NOT coalesce(
        |         lag(isagent) OVER (PARTITION BY dom ORDER BY pos), false)
        |         THEN 1 ELSE 0 END AS nb FROM t2),
        |t4 AS (SELECT *, sum(nb) OVER (PARTITION BY dom ORDER BY pos
        |         ROWS UNBOUNDED PRECEDING) AS bid FROM t3),
        |star AS (SELECT dom, bid FROM t4 WHERE isagent GROUP BY 1, 2
        |         HAVING max(CASE WHEN isstar THEN 1 ELSE 0 END) = 1),
        |rules AS (SELECT DISTINCT t4.dom,
        |    trim(regexp_replace(line, '(?i)^\s*(allow|disallow):', ''))
        |      AS rule_path,
        |    CAST(l LIKE 'allow:%' AS INT) AS is_allow
        |  FROM t4 JOIN star USING (dom, bid)
        |  WHERE regexp_matches(l, '^(allow|disallow):')),
        |rules2 AS (SELECT * FROM rules WHERE rule_path <> ''),
        |urls AS (SELECT doc_id, source,
        |    'https://' || source || '.com' ||
        |    CASE (doc_id // 20) % 5 WHEN 0 THEN '/private/x'
        |         WHEN 1 THEN '/private/ok/y' WHEN 2 THEN '/tmp/z'
        |         WHEN 3 THEN '/tmp/keep/w'
        |         ELSE '/public/p' || CAST(doc_id AS VARCHAR) END AS url,
        |    source || '.com' AS host,
        |    CASE (doc_id // 20) % 5 WHEN 0 THEN '/private/x'
        |         WHEN 1 THEN '/private/ok/y' WHEN 2 THEN '/tmp/z'
        |         WHEN 3 THEN '/tmp/keep/w'
        |         ELSE '/public/p' || CAST(doc_id AS VARCHAR) END AS path
        |  FROM documents),
        |cand AS (SELECT u.doc_id, r.rule_path, r.is_allow
        |         FROM urls u JOIN rules2 r ON r.dom = u.host
        |         WHERE substr(u.path, 1, len(r.rule_path)) = r.rule_path),
        |best AS (SELECT doc_id, is_allow FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY len(rule_path) DESC, is_allow DESC, rule_path) AS rk
        |    FROM cand) WHERE rk = 1),
        |rb AS (SELECT u.doc_id, u.source,
        |         CAST(coalesce(b.is_allow, 1) AS INT) AS allowed
        |       FROM urls u LEFT JOIN best b USING (doc_id)),
        |p AS (SELECT doc_id,
        |    'Home | About | Contact' || chr(10) || text || chr(10) ||
        |    'This line has enough words to satisfy the filter.' || chr(10) ||
        |    'Short one.' || chr(10) ||
        |    'Another complete sentence that clearly satisfies the filter.' || chr(10) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN 'if (x) { return; }'
        |          ELSE 'Plain closing sentence with sufficient word count here.'
        |     END) || chr(10) ||
        |    (CASE WHEN doc_id % 11 = 0 THEN 'Lorem Ipsum dolor sit amet.'
        |          ELSE '' END) AS t
        |  FROM documents),
        |ck AS (SELECT doc_id,
        |    CAST((len(list_filter(string_split(t, chr(10)), l ->
        |            regexp_matches(trim(l), '[.!?"]$') AND
        |            len(regexp_split_to_array(trim(l), '\s+')) >= 5)) >= 3
        |          AND NOT contains(t, '{')
        |          AND NOT contains(lower(t), 'lorem ipsum')) AS INT) AS keep
        |  FROM p)
        |SELECT rb.source, count(*) AS n_fetched,
        |  CAST(sum(rb.allowed) AS BIGINT) AS n_robots_allowed,
        |  CAST(sum(ck.keep) AS BIGINT) AS n_content_kept,
        |  CAST(sum(rb.allowed * ck.keep) AS BIGINT) AS n_admitted
        |FROM rb JOIN ck USING (doc_id)
        |GROUP BY 1
        |ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val base = "User-agent: bot\nDisallow: /\nUser-agent: *\n" +
        "Disallow: /private\nAllow: /private/ok\nDisallow: /tmp\nDisallow:"
      val extra = "\nUser-agent: a\nUser-agent: *\nAllow: /tmp/keep"
      val robots = docs.select(col("source")).distinct()
        .select(concat(col("source"), lit(".com")).as("domain"),
          when(col("source").rlike("[13579]$"),
            concat(lit(base), lit(extra))).otherwise(lit(base)).as("txt"))
      val path = expr("(doc_id div 20) % 5")
      val pathCol = when(path === 0, lit("/private/x"))
        .when(path === 1, lit("/private/ok/y"))
        .when(path === 2, lit("/tmp/z"))
        .when(path === 3, lit("/tmp/keep/w"))
        .otherwise(concat(lit("/public/p"), col("doc_id").cast("string")))
      val urls = docs.select(col("doc_id"), col("source"),
        concat(lit("https://"), col("source"), lit(".com"), pathCol)
          .as("url"))
      val rules = Web.robotsRules(robots, "domain", "txt")
      val rb = Web.robotsAllowed(urls, "url", rules)
        .select(col("doc_id"), col("source"), col("allowed"))
      val page = concat_ws("\n",
        lit("Home | About | Contact"),
        col("text"),
        lit("This line has enough words to satisfy the filter."),
        lit("Short one."),
        lit("Another complete sentence that clearly satisfies the filter."),
        when(col("doc_id") % 7 === 0, lit("if (x) { return; }"))
          .otherwise(
            lit("Plain closing sentence with sufficient word count here.")),
        when(col("doc_id") % 11 === 0, lit("Lorem Ipsum dolor sit amet."))
          .otherwise(lit("")))
      val ck = Text.c4Clean(
          docs.select(col("doc_id"), page.as("text")), "doc_id", "text")
        .select(col("doc_id"), col("keep"))
      rb.join(ck, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_fetched"),
          sum(col("allowed")).as("n_robots_allowed"),
          sum(col("keep")).as("n_content_kept"),
          sum(col("allowed") * col("keep")).as("n_admitted"))
        .orderBy("source")
    },

    // ── q134: batch crawl admission against the PERSISTED signature
    //    index — q130's recurring-crawl contract for the dedup tier: the
    //    90% corpus's MinHash signatures make a parquet round trip, the
    //    10% "crawl batch" is matched against the stored table (corpus
    //    text never rescanned — plan-proven in DedupSpec), and each new
    //    doc gets its admission verdict (n_dups, keep). The oracle
    //    aggregates the exact cross-side Jaccard pairs (q55's set — LSH
    //    recall is 1.0 on the fixture, proven there). ──
    QueryDef("q134_crawl_admission", CrawlAdmissionSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val newB = docs.where(col("doc_id") % 10 === 0)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sig-index").toString
      Dedup.minHashSignatures(docs.where(col("doc_id") % 10 =!= 0),
          "doc_id", "text", shingleN = 8, k = 64)
        .write.mode("overwrite").parquet(dir)
      val pairs = Dedup.minHashLshPairsAgainstSignatures(newB,
        s.read.parquet(dir), "doc_id", "text", shingleN = 8, k = 64,
        bands = 16, rows = 4, threshold = 0.8)
      Dedup.batchAdmission(newB, "doc_id", pairs).orderBy("doc_id")
    },

    // ── q135: corpus drift monitor — per-bucket hashed-unigram
    //    distribution comparison between a crawl batch (doc_id%10=0) and
    //    the reference corpus: add-1-smoothed log-likelihood ratio and
    //    KL contribution per bucket, exact integer counts, the one ln
    //    guarded round-6 and the KL term published as integer ppm via
    //    exact integral division (never a rounded rational product —
    //    the q171 divergence class; the DSIR determinism contract).
    //    Sorting by |llr| names WHICH features moved — the actionable
    //    form of a drift alarm. ──
    QueryDef("q135_corpus_drift",
      """WITH t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |             ELSE regexp_split_to_array(lower(trim(text)), '\s+') END
        |             AS toks
        |           FROM documents),
        |s AS (SELECT doc_id,
        |        CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 4096 AS bucket
        |      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
        |      WHERE tok <> ''),
        |cb AS (SELECT bucket, count(*) AS n_batch FROM s
        |       WHERE doc_id % 10 = 0 GROUP BY 1),
        |cr AS (SELECT bucket, count(*) AS n_ref FROM s
        |       WHERE doc_id % 10 <> 0 GROUP BY 1),
        |nb AS (SELECT coalesce(sum(n_batch), 0) AS nb FROM cb),
        |nr AS (SELECT coalesce(sum(n_ref), 0) AS nr FROM cr),
        |j AS (SELECT coalesce(cb.bucket, cr.bucket) AS bucket,
        |        coalesce(n_batch, 0) AS n_batch, coalesce(n_ref, 0) AS n_ref
        |      FROM cb FULL OUTER JOIN cr ON cb.bucket = cr.bucket),
        |k AS (SELECT bucket, n_batch, n_ref,
        |        round(ln((n_batch + 1.0) / (nb + 4096.0)) -
        |              ln((n_ref + 1.0) / (nr + 4096.0)), 6) AS llr,
        |        nb
        |      FROM j CROSS JOIN nb CROSS JOIN nr),
        |k2 AS (SELECT *, CAST(floor(llr * 1000000.0 + 0.5) AS HUGEINT)
        |         AS lu FROM k)
        |SELECT bucket, CAST(n_batch AS BIGINT) AS n_batch,
        |  CAST(n_ref AS BIGINT) AS n_ref, llr,
        |  CAST((CASE WHEN lu < 0 THEN -1 ELSE 1 END)
        |    * ((CAST(n_batch + 1 AS HUGEINT) * abs(lu)) // (nb + 4096))
        |    AS BIGINT) AS kl_ppm
        |FROM k2 ORDER BY bucket""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Scoring.distributionDrift(docs.where(col("doc_id") % 10 === 0), "text",
          docs.where(col("doc_id") % 10 =!= 0), "text", buckets = 4096)
        .orderBy("bucket")
    },

    // ── q136: URL-level dedup — the zero-content-cost first gate of a
    //    crawl pipeline: three crawl variants per page (clean, tracking
    //    params + fragment, userinfo + default port + case noise) fold to
    //    one canonical row with the kept representative and the variant
    //    count. The oracle replays the variant construction and the full
    //    normalize grammar. ──
    QueryDef("q136_url_dedup",
      """WITH c AS (SELECT doc_id * 10 + j AS crawl_id,
        |    CASE j
        |      WHEN 0 THEN 'http://News.Example.com/p/' ||
        |        CAST(doc_id % 50 AS VARCHAR) || '?x=1'
        |      WHEN 1 THEN 'http://News.Example.com/p/' ||
        |        CAST(doc_id % 50 AS VARCHAR) ||
        |        '?x=1&utm_source=feed&fbclid=z#frag'
        |      ELSE 'HTTP://crawler:pw@news.example.COM:80/p/' ||
        |        CAST(doc_id % 50 AS VARCHAR) || '?x=1&utm_campaign=c'
        |    END AS url
        |  FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)),
        |pa AS (SELECT crawl_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |      AS scheme,
        |    regexp_extract(
        |      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
        |      '(?:.*@)?([^@]*)$', 1) AS hostport
        |  FROM c),
        |pb AS (SELECT *,
        |    lower(regexp_replace(hostport, ':[0-9]*$', '')) AS host,
        |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
        |    regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
        |    regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^?#]*\?([^#]*)', 1) AS q
        |  FROM pa),
        |pc AS (SELECT *,
        |    coalesce(array_to_string(list_sort(list_filter(
        |      string_split(q, '&'),
        |      p -> p <> '' AND NOT regexp_matches(p,
        |        '^(?:utm_[A-Za-z0-9_]+|fbclid|gclid|msclkid|igshid|twclid|mc_cid|mc_eid|ref_src)='))),
        |      '&'), '') AS qn
        |  FROM pb),
        |normed AS (SELECT crawl_id,
        |    CASE WHEN scheme = '' THEN NULL
        |      ELSE scheme || '://' || host ||
        |        (CASE WHEN port <> ''
        |                  AND NOT (scheme = 'http' AND port = '80')
        |                  AND NOT (scheme = 'https' AND port = '443')
        |            THEN ':' || port ELSE '' END) ||
        |        (CASE WHEN path = '' THEN '/' ELSE path END) ||
        |        (CASE WHEN qn = '' THEN '' ELSE '?' || qn END)
        |      END AS norm_url
        |  FROM pc)
        |SELECT norm_url, min(crawl_id) AS kept_id,
        |  CAST(count(*) AS BIGINT) AS n_variants
        |FROM normed WHERE norm_url IS NOT NULL
        |GROUP BY 1 ORDER BY norm_url""".stripMargin) { (s, d) =>
      val base = concat(lit("http://News.Example.com/p/"),
        (col("doc_id") % 50).cast("string"))
      val variants = array(
        concat(base, lit("?x=1")),
        concat(base, lit("?x=1&utm_source=feed&fbclid=z#frag")),
        concat(lit("HTTP://crawler:pw@news.example.COM:80/p/"),
          (col("doc_id") % 50).cast("string"), lit("?x=1&utm_campaign=c")))
      val crawl = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(variants).as(Seq("j", "url")))
        .select((col("doc_id") * 10 + col("j")).as("crawl_id"), col("url"))
      graft.ops.Web.urlDedup(crawl, "crawl_id", "url").orderBy("norm_url")
    },

    // ── q137: C4 line-level cleaning (Raffel et al. §2.2) — keep lines
    //    ending in terminal punctuation with ≥5 words, gate pages on ≥3
    //    kept lines / no '{' / no 'lorem ipsum'. The fixture wraps every
    //    document in a nav line, a short line, proper sentences, and
    //    per-residue code/boilerplate markers so every rule fires. One
    //    map-only pass; dropped pages keep their row (keep=0) for drop-
    //    rate audits. ──
    QueryDef("q137_c4_clean",
      """WITH p AS (SELECT doc_id,
        |    'Home | About | Contact' || chr(10) || text || chr(10) ||
        |    'This line has enough words to satisfy the filter.' || chr(10) ||
        |    'Short one.' || chr(10) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN 'if (x) { return; }'
        |          ELSE 'Plain closing sentence with sufficient word count here.'
        |     END) || chr(10) ||
        |    (CASE WHEN doc_id % 11 = 0 THEN 'Lorem Ipsum dolor sit amet.'
        |          ELSE '' END) AS t
        |  FROM documents),
        |f AS (SELECT doc_id, t,
        |    list_filter(string_split(t, chr(10)), l ->
        |      regexp_matches(trim(l), '[.!?"]$') AND
        |      len(regexp_split_to_array(trim(l), '\s+')) >= 5) AS kept,
        |    len(string_split(t, chr(10))) AS n_lines
        |  FROM p)
        |SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,
        |  CAST(n_lines AS INT) AS n_lines, CAST(len(kept) AS INT) AS n_kept,
        |  CAST((len(kept) >= 3 AND NOT contains(t, '{')
        |        AND NOT contains(lower(t), 'lorem ipsum')) AS INT) AS keep
        |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
      val page = concat_ws("\n",
        lit("Home | About | Contact"),
        col("text"),
        lit("This line has enough words to satisfy the filter."),
        lit("Short one."),
        when(col("doc_id") % 7 === 0, lit("if (x) { return; }"))
          .otherwise(
            lit("Plain closing sentence with sufficient word count here.")),
        when(col("doc_id") % 11 === 0, lit("Lorem Ipsum dolor sit amet."))
          .otherwise(lit("")))
      Text.c4Clean(
          Tables.documents(s, d).select(col("doc_id"), page.as("text")),
          "doc_id", "text")
        .orderBy("doc_id")
    },

    // ── q138: signature-index APPEND — the write half of the crawl loop
    //    (q134 is the read half): the stored table is built on the
    //    corpus's first 60%, the rest arrives as a delta that re-sees the
    //    50-60% decile (the id anti-join drops the overlap, and makes a
    //    retried append idempotent), then the same admission batch is
    //    served. Oracle is q134's: how the store was produced must be
    //    result-invisible. ──
    QueryDef("q138_signature_index_append", CrawlAdmissionSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpus = docs.where(col("doc_id") % 10 =!= 0)
      val newB = docs.where(col("doc_id") % 10 === 0)
      val n = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sig-append").toString
      Dedup.minHashSignatures(corpus.where(col("doc_id") < lit(n * 6 / 10)),
          "doc_id", "text", shingleN = 8, k = 64)
        .write.mode("overwrite").parquet(dir)
      Dedup.signatureIndexAppend(s,
        corpus.where(col("doc_id") >= lit(n / 2)), // re-sees 50-60% decile
        "doc_id", "text", dir, shingleN = 8, k = 64)
      val pairs = Dedup.minHashLshPairsAgainstSignatures(newB,
        s.read.parquet(dir), "doc_id", "text", shingleN = 8, k = 64,
        bands = 16, rows = 4, threshold = 0.8)
      Dedup.batchAdmission(newB, "doc_id", pairs).orderBy("doc_id")
    },

    // ── q143: incremental CLUSTER maintenance — the crawl loop's third
    //    leg (q138 stores signatures, q134 admits; this keeps the cluster
    //    TABLE current): the stored assignment is built on the 90% corpus
    //    and round-trips parquet, then the 10% batch's cross + internal
    //    pairs fold in WITHOUT re-running CC over the corpus graph —
    //    batch docs that bridge two stored clusters merge them. Oracle is
    //    q57's full-rebuild closure: how the table was produced must be
    //    result-invisible. ──
    QueryDef("q143_cluster_index_append", ClusterAssignSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val batch = docs.where(col("doc_id") % 10 === 0)
      // The corpus cluster STORE and the corpus SIGNATURE table are the
      // append contract's fixed assets — built once per fixture
      // (SharedFrames.corpusClusters / corpusSignatures, replacing the
      // per-invocation corpus re-shingle this body used to pay), so the
      // timed body is the RECURRING path: batch shingling + the band join
      // against stored signatures + the fold. The bench's cluster_build /
      // cluster_sig_build phases keep timing the store builds.
      val pairs = Dedup.minHashLshBatchPairs(batch,
        SharedFrames.corpusSignatures(s, d),
        "doc_id", "text", shingleN = 8, k = 64, bands = 16, rows = 4,
        threshold = 0.8)
      Dedup.clusterIndexAppend(SharedFrames.corpusClusters(s, d),
          batch.select(col("doc_id")), "doc_id", pairs)
        .orderBy("doc_id")
    },

    // ── Gopher-style repetition quality signals: duplicate-line fraction
    //    (pure per-row expression) + top word-bigram fraction (explode +
    //    two-level aggregate — the distributed shape; the per-doc counts
    //    combine map-side). ──
    QueryDef("q49_repetition",
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(text, chr(10)) AS lines,
        |    CASE WHEN trim(text) = '' THEN []
        |         ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(
        |    [toks[i] || ' ' || toks[i+1] FOR i IN generate_series(1, len(toks)-1)]
        |  ) AS g FROM t),
        |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
        |bga AS (SELECT doc_id AS bdoc, max(c) AS maxc, sum(c) AS sumc
        |        FROM bgc GROUP BY 1)
        |SELECT t.doc_id,
        |  round((len(lines) - len(list_distinct(lines))) / len(lines)::DOUBLE, 6)
        |    AS dup_line_frac,
        |  coalesce(round(maxc / sumc::DOUBLE, 6), 0.0) AS top_bigram_frac
        |FROM t LEFT JOIN bga ON t.doc_id = bga.bdoc
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val bg = docs.select(col("doc_id"),
          explode(TextFunctions.wordBigrams(col("text"))).as("_bg"))
        .groupBy(col("doc_id"), col("_bg")).agg(count(lit(1)).as("_c"))
        .groupBy(col("doc_id")).agg(
          max(col("_c")).as("_maxc"), sum(col("_c")).as("_sumc"))
      docs.select(col("doc_id"),
          TextFunctions.dupLineFrac(col("text")).as("dup_line_frac"))
        .join(bg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dup_line_frac"),
          coalesce(round(col("_maxc").cast("double") /
            col("_sumc").cast("double"), 6), lit(0.0)).as("top_bigram_frac"))
        .orderBy("doc_id")
    },

    // ── per-domain corpus stats over normalized URLs: host extraction,
    //    tracking-param stripping (the CommonCrawl-style URL dedup key),
    //    then a per-host aggregate. The URL is synthesized from doc_id (the
    //    documents fixture carries no URL), so the oracle replays the
    //    synthesis + the exact normalization regexes. ──
    QueryDef("q50_domain_stats",
      """WITH u AS (
        |  SELECT doc_id, n_chars,
        |    'https://www.site' || (doc_id % 97) || '.example.com/p/' ||
        |      (doc_id % 194) || '?utm_source=u' || (doc_id % 7) ||
        |      '&ref=r' || (doc_id % 3) || '#frag' AS url
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, n_chars, url,
        |    lower(regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:www\.)?([^/?#:]+)', 1)) AS host,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(url, '#.*', '', 'g'),
        |      '([?&])(utm_[A-Za-z]+|ref|fbclid)=[^&]*', '\1', 'g'),
        |      '\?&+', '?', 'g'), '&&+', '&', 'g'), '[?&]+$', '', 'g') AS norm_url
        |  FROM u)
        |SELECT host, count(*) AS n_docs,
        |  count(DISTINCT url) AS n_unique_raw,
        |  count(DISTINCT norm_url) AS n_unique_norm,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM n GROUP BY host
        |ORDER BY host""".stripMargin) { (s, d) =>
      val u = Tables.documents(s, d).select(col("doc_id"), col("n_chars"),
        concat(lit("https://www.site"), col("doc_id") % 97,
          lit(".example.com/p/"), col("doc_id") % 194,
          lit("?utm_source=u"), col("doc_id") % 7,
          lit("&ref=r"), col("doc_id") % 3, lit("#frag")).as("url"))
      u.select(col("n_chars"), col("url"),
          TextFunctions.urlHost(col("url")).as("host"),
          TextFunctions.urlNormalize(col("url")).as("norm_url"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("url")).as("n_unique_raw"),
          count_distinct(col("norm_url")).as("n_unique_norm"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("host")
    },

    // ── deterministic stratified sampling: per-language keep rates applied
    //    as a hash-of-id filter (reproducible under retry/repartition and
    //    replayable by the oracle — rand() sampling is neither). ──
    QueryDef("q51_stratified_sample",
      """SELECT doc_id, lang FROM documents
        |WHERE (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |       % 1000000) <
        |  CASE lang WHEN 'en' THEN 250000 WHEN 'de' THEN 500000
        |            WHEN 'es' THEN 500000 WHEN 'fr' THEN 750000
        |            ELSE 1000000 END
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Sampling.stratifiedSample(Tables.documents(s, d), "lang", "doc_id",
          Map("en" -> 0.25, "de" -> 0.5, "es" -> 0.5, "fr" -> 0.75))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    // ── EXACTLY k per stratum (eval-set construction): winners are the k
    //    smallest (md5-ppm(id), id) per lang — a deterministic total order
    //    both engines replay bit-for-bit. ──
    QueryDef("q63_exact_k_sample",
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY
        |      (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |       % 1000000), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, lang FROM r WHERE rk <= 20
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Sampling.exactKPerStratum(Tables.documents(s, d), "lang", "doc_id", 20)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    // ── incremental near-dedup: a 10% "new batch" matched against the
    //    other 90% "existing corpus" through the bipartite LSH join — the
    //    per-batch ingestion shape (batch-sized cost, not corpus-sized).
    //    The oracle filters the full exact-Jaccard pair set down to
    //    cross-side pairs. ──
    QueryDef("q55_incremental_dedup",
      s"""WITH pairs AS ($JaccardPairsSql)
         |SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS new_id,
         |       CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS corpus_id,
         |       jaccard
         |FROM pairs
         |WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)
         |ORDER BY new_id, corpus_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.minHashLshPairsAgainst(
          docs.where(col("doc_id") % 10 === 0),
          docs.where(col("doc_id") % 10 =!= 0),
          "doc_id", "text", shingleN = 8, k = 64, bands = 16, rows = 4,
          threshold = 0.8)
        .orderBy("new_id", "corpus_id")
    },

    // ── near-dup CLUSTERING: pair graph → connected components
    //    (alternating large-star/small-star) → one cluster id per doc and
    //    exactly one canonical keeper per duplicate group. Pairs come from
    //    the exact (lossless) n-gram Jaccard join so the oracle can replay
    //    them brute-force; the closure is replayed with a recursive CTE. ──
    QueryDef("q57_dedup_clusters", ClusterAssignSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 8, threshold = 0.8)
      Dedup.dedupAssign(docs.select(col("doc_id")), "doc_id", pairs)
        .orderBy("doc_id")
    },

    // ── q194: dedup impact report — the cluster-SIZE histogram over
    //    q57's near-dup clusters (how duplicated is this corpus, and in
    //    what shape: many small clusters vs a few viral ones decides the
    //    dedup strategy). Singletons included; n_docs = size·clusters
    //    so Σ n_docs = corpus size (self-checking). ──
    QueryDef("q194_dedup_impact",
      s"""WITH RECURSIVE pairs AS ($JaccardPairsSql),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
         |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
         |         FROM reach GROUP BY u),
         |asg AS (SELECT d.doc_id,
         |          COALESCE(c.cluster_id, d.doc_id) AS cluster_id
         |        FROM documents d LEFT JOIN comp c USING (doc_id)),
         |cs AS (SELECT cluster_id, count(*) AS sz FROM asg GROUP BY 1)
         |SELECT CAST(sz AS BIGINT) AS cluster_size,
         |  count(*) AS n_clusters,
         |  CAST(sz * count(*) AS BIGINT) AS n_docs
         |FROM cs GROUP BY sz
         |ORDER BY cluster_size""".stripMargin) { (s, d) =>
      // cluster table served from the shared closure frame (r20)
      SharedFrames.lexClusters(s, d)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("_sz"))
        .groupBy(col("_sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
        .orderBy("cluster_size")
    },

    // ── cluster-correct corpus dedup: keep exactly the smallest-id member
    //    of each near-dup cluster, full doc rows out — the end-to-end
    //    "dedup this corpus" op (q21's pair-drop over-deletes on chains). ──
    QueryDef("q64_cluster_dedup",
      s"""WITH RECURSIVE pairs AS ($JaccardPairsSql),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
         |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
         |         FROM reach GROUP BY u)
         |SELECT d.doc_id, d.lang, d.n_chars
         |FROM documents d LEFT JOIN comp c USING (doc_id)
         |WHERE COALESCE(c.cluster_id, d.doc_id) = d.doc_id
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // pair set served from the shared closure frame (r20)
      Dedup.dedupFilter(
          Tables.documents(s, d)
            .select(col("doc_id"), col("lang"), col("n_chars")),
          "doc_id", SharedFrames.lexPairs(s, d))
        .orderBy("doc_id")
    },

    // ── quality-aware keeper selection: per near-dup cluster keep the
    //    LONGEST member (ties by smallest id), not the smallest id — what
    //    curation actually wants (drop truncated shards, keep the full
    //    doc). Same pair graph + closure as q57; the keeper rule is an
    //    argmax window over the flagged minority only. ──
    QueryDef("q68_dedup_best",
      s"""WITH RECURSIVE pairs AS ($JaccardPairsSql),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
         |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
         |         FROM reach GROUP BY u),
         |asg AS (
         |  SELECT d.doc_id, d.n_chars,
         |         COALESCE(c.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN comp c USING (doc_id)),
         |rk AS (
         |  SELECT doc_id, n_chars, cluster_id,
         |    row_number() OVER (
         |      PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS r
         |  FROM asg)
         |SELECT doc_id, n_chars, cluster_id, CAST(r = 1 AS INT) AS keep
         |FROM rk ORDER BY doc_id""".stripMargin) { (s, d) =>
      // pair set served from the shared closure frame (r20)
      Dedup.dedupKeepBest(
          Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          "doc_id", SharedFrames.lexPairs(s, d), priority = col("n_chars"))
        .orderBy("doc_id")
    },

    // ── span-level benchmark decontamination: WHERE the eval split's
    //    verbatim text sits inside each training doc (q65 scores how
    //    much; this locates it, merged to maximal intervals, so
    //    removeMatchingSpans can excise instead of quarantine). Benchmark
    //    = doc_id % 50 = 0, corpus = the rest, as q65. ──
    QueryDef("q70_decontam_spans",
      """WITH d0 AS (
        |  SELECT doc_id, text, length(text) AS len FROM documents
        |  WHERE length(text) >= 1 AND doc_id % 50 <> 0),
        |b0 AS (
        |  SELECT text, length(text) AS len FROM documents
        |  WHERE length(text) >= 1 AND doc_id % 50 = 0),
        |pos AS (
        |  SELECT doc_id, text, len,
        |    unnest(generate_series(1, greatest(len - 49, 1))) AS p
        |  FROM d0),
        |g AS (SELECT doc_id, len, p, substr(text, p::INT, 50) AS gram FROM pos),
        |bpos AS (
        |  SELECT text, unnest(generate_series(1, greatest(len - 49, 1))) AS p
        |  FROM b0),
        |bg AS (SELECT DISTINCT substr(text, p::INT, 50) AS gram FROM bpos),
        |f AS (SELECT doc_id, p, least(p + 49, len) AS e FROM g JOIN bg USING (gram)),
        |w AS (
        |  SELECT doc_id, p, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY p
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM f),
        |isl AS (
        |  SELECT doc_id, p, e,
        |    sum(CASE WHEN pm IS NULL OR p > pm + 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY p) AS island
        |  FROM w)
        |SELECT doc_id, min(p) AS span_start, max(e) AS span_end,
        |       count(*) AS n_grams
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      val all = Tables.documents(s, d)
      Text.matchingSpans(
          all.where(col("doc_id") % 50 =!= 0), "doc_id", "text",
          all.where(col("doc_id") % 50 === 0), "text", n = 50)
        .orderBy("doc_id", "span_start")
    },

    // ── Bloom-prefiltered decontamination EXCISION: q70 locates the eval
    //    split's verbatim spans via an exact hash join of every corpus
    //    window; this runs the same surgery but tests membership ON THE
    //    SCAN with a driver-built Bloom sketch (codegen'd
    //    bloom_might_contain_long) so only bloom-positives reach the
    //    verify join — the shape that keeps the corpus side shuffle-free
    //    at 100 TB. The sketch admits no false negatives and positives
    //    are re-verified exactly, so the md5 of the cleaned text must
    //    match the oracle's hash-free replay bit-for-bit. ──
    QueryDef("q74_decontam_bloom",
      """WITH d0 AS (
        |  SELECT doc_id, text, length(text) AS len FROM documents
        |  WHERE length(text) >= 1 AND doc_id % 50 <> 0),
        |b0 AS (
        |  SELECT text, length(text) AS len FROM documents
        |  WHERE length(text) >= 1 AND doc_id % 50 = 0),
        |pos AS (
        |  SELECT doc_id, text, len,
        |    unnest(generate_series(1, greatest(len - 49, 1))) AS p
        |  FROM d0),
        |g AS (SELECT doc_id, len, p, substr(text, p::INT, 50) AS gram FROM pos),
        |bpos AS (
        |  SELECT text, unnest(generate_series(1, greatest(len - 49, 1))) AS p
        |  FROM b0),
        |bg AS (SELECT DISTINCT substr(text, p::INT, 50) AS gram FROM bpos),
        |f AS (SELECT doc_id, p, least(p + 49, len) AS e FROM g JOIN bg USING (gram)),
        |w AS (
        |  SELECT doc_id, p, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY p
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM f),
        |isl AS (
        |  SELECT doc_id, p, e,
        |    sum(CASE WHEN pm IS NULL OR p > pm + 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY p) AS island
        |  FROM w),
        |sp AS (SELECT doc_id, min(p) AS s, max(e) AS e
        |       FROM isl GROUP BY doc_id, island),
        |gaps AS (
        |  SELECT doc_id, s, e,
        |    lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY s) AS pe
        |  FROM sp),
        |tails AS (SELECT doc_id, max(e) AS me FROM sp GROUP BY doc_id),
        |pieces AS (
        |  SELECT g2.doc_id, g2.s AS ord,
        |    substr(d0.text, CAST(g2.pe + 1 AS INT), CAST(g2.s - g2.pe - 1 AS INT)) AS piece
        |  FROM gaps g2 JOIN d0 USING (doc_id)
        |  UNION ALL
        |  SELECT t.doc_id, 2147483647 AS ord,
        |    substr(d0.text, CAST(t.me + 1 AS INT)) AS piece
        |  FROM tails t JOIN d0 USING (doc_id)),
        |cleaned AS (
        |  SELECT doc_id, coalesce(string_agg(piece, '' ORDER BY ord), '') AS ct
        |  FROM pieces GROUP BY doc_id)
        |SELECT d.doc_id, length(coalesce(c.ct, d.text)) AS clean_len,
        |       md5(coalesce(c.ct, d.text)) AS clean_md5
        |FROM (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0) d
        |LEFT JOIN cleaned c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val all = Tables.documents(s, d)
      Text.removeMatchingSpansBloom(
          all.where(col("doc_id") % 50 =!= 0).select(col("doc_id"), col("text")),
          "doc_id", "text",
          all.where(col("doc_id") % 50 === 0), "text", n = 50)
        .select(col("doc_id"),
          length(col("clean_text")).cast("bigint").as("clean_len"),
          md5(col("clean_text").cast("binary")).as("clean_md5"))
        .orderBy("doc_id")
    },

    // ── deterministic seeded corpus shuffle + shard assignment: the
    //    pre-export decorrelation step (no crawl/time-locality runs in a
    //    training batch). The "random" key is md5("42:"||id) — replayable
    //    cross-engine — and the oracle orders by the same 15-hex-digit
    //    prefix the Spark side converts to a 60-bit long (numeric order of
    //    a fixed-width hex prefix == its lexicographic order). Round-robin
    //    on the global rank: shard sizes differ by at most one doc. ──
    QueryDef("q75_shuffle_shards",
      """WITH r AS (
        |  SELECT doc_id,
        |    row_number() OVER (
        |      ORDER BY substr(md5('42:' || doc_id), 1, 15), doc_id) - 1 AS rk
        |  FROM documents)
        |SELECT doc_id, rk % 8 AS shard, rk // 8 AS pos
        |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.Export.shuffleShards(
          Tables.documents(s, d).select(col("doc_id")),
          "doc_id", seed = 42L, numShards = 8)
        .orderBy("doc_id")
    },

    // ── greedy sequence packing: deal docs to 16 shards by seeded md5,
    //    then first-fit IN ID ORDER within each shard — a new 2048-token
    //    sequence starts whenever the fill would overflow (the packing
    //    step that stops short docs wasting context window). The oracle
    //    replays the inherently sequential fold as a recursive CTE. ──
    QueryDef("q76_pack_sequences",
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_tokens,
        |    CAST('0x' || substr(md5('42:' || doc_id), 1, 15) AS BIGINT) % 16
        |      AS shard
        |  FROM documents),
        |t AS (
        |  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id)
        |    AS rn
        |  FROM base),
        |pack AS (
        |  SELECT shard, doc_id, n_tokens, rn,
        |    CAST(0 AS BIGINT) AS seq, n_tokens AS fill
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.shard, t.doc_id, t.n_tokens, t.rn,
        |    CASE WHEN p.fill + t.n_tokens > 2048 THEN p.seq + 1
        |         ELSE p.seq END,
        |    CASE WHEN p.fill + t.n_tokens > 2048 THEN t.n_tokens
        |         ELSE p.fill + t.n_tokens END
        |  FROM t JOIN pack p ON t.shard = p.shard AND t.rn = p.rn + 1)
        |SELECT doc_id, shard, seq, fill - n_tokens AS seq_offset, n_tokens
        |FROM pack ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.Export.packSequences(
          Tables.documents(s, d).select(col("doc_id"),
            length(col("text")).cast("long").as("n_tokens")),
          "doc_id", "n_tokens", capacity = 2048L, numShards = 16)
        .select(col("doc_id"), col("shard"), col("seq"), col("seq_offset"),
          col("n_tokens"))
        .orderBy("doc_id")
    },

    // ── token-budget head: the best docs by (n_chars desc, id) whose
    //    INCLUSIVE running token sum fits in 60k — "top N tokens by
    //    quality" mix sizing. The oracle's global cumulative window is the
    //    single-task shape the Spark side replaces with the range-
    //    partitioned prefix-sum (globalRowNumber generalized to weights). ──
    QueryDef("q77_token_budget",
      """WITH c AS (
        |  SELECT doc_id, n_chars,
        |    CAST(sum(n_chars) OVER (ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM documents)
        |SELECT doc_id, n_chars, cum_tokens FROM c
        |WHERE cum_tokens <= 60000 ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.Export.takeTokenBudget(
          Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", "n_chars", budget = 60000L)
        .orderBy("doc_id")
    },

    // ── mixture resampling: real-valued per-lang weights (en 0.25×,
    //    de 1.5×, fr 2×, rest 1×) — floor(w) replicas plus one more when
    //    md5-ppm(id) clears the frac(w) threshold; copy_id tells replicas
    //    apart. The data-mixing step of a pretraining recipe, map-only. ──
    QueryDef("q78_mixture_resample",
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 1 WHEN 'fr' THEN 2
        |              ELSE 1 END
        |    + CASE WHEN (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |                      AS BIGINT) % 1000000) <
        |                CASE lang WHEN 'en' THEN 250000 WHEN 'de' THEN 500000
        |                          ELSE 0 END
        |           THEN 1 ELSE 0 END AS n
        |  FROM documents)
        |SELECT doc_id, lang,
        |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS copy_id
        |FROM b WHERE n > 0
        |ORDER BY doc_id, copy_id""".stripMargin) { (s, d) =>
      Sampling.mixtureResample(
          Tables.documents(s, d).select(col("doc_id"), col("lang")),
          "lang", "doc_id",
          Map("en" -> 0.25, "de" -> 1.5, "fr" -> 2.0))
        .orderBy("doc_id", "copy_id")
    },

    // ── q140: data-mixture EPOCH PLAN — the per-source allocation table
    //    a pretraining run publishes (LLaMA tbl. 1 shape): whitespace
    //    token counts (q15's proven expression) aggregated per source,
    //    joined to a deterministic md5-derived weight table, then the
    //    budget-implied target, epoch-capped plan, implied epochs and
    //    shortfall — all integer-ppm floors, replayed in DuckDB with
    //    HUGEINT //. ──
    QueryDef("q140_epoch_plan",
      """WITH tok AS (SELECT source,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
        |  FROM documents),
        |avail AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS available_tokens
        |          FROM tok GROUP BY 1),
        |w AS (SELECT DISTINCT source,
        |    10000 + (CAST('0x' || substr(md5(source), 1, 15) AS BIGINT) % 90000)
        |      AS weight_ppm
        |  FROM documents),
        |p AS (SELECT avail.source, available_tokens, weight_ppm,
        |    CAST(CAST(50000 AS HUGEINT) * weight_ppm // 1000000 AS BIGINT)
        |      AS target_tokens,
        |    CAST(CAST(available_tokens AS HUGEINT) * 2500000 // 1000000 AS BIGINT)
        |      AS cap_tokens
        |  FROM avail JOIN w USING (source))
        |SELECT source, available_tokens, weight_ppm, target_tokens,
        |  least(target_tokens, cap_tokens) AS planned_tokens,
        |  CAST(CASE WHEN available_tokens = 0 THEN 0
        |    ELSE CAST(least(target_tokens, cap_tokens) AS HUGEINT) * 1000000
        |         // available_tokens END AS BIGINT) AS epochs_ppm,
        |  target_tokens - least(target_tokens, cap_tokens) AS shortfall_tokens
        |FROM p ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("source"),
        TextFunctions.tokenCountWs(col("text")).cast("long").as("n_tok"))
      val weights = docs.select(col("source")).distinct()
        .select(col("source"), (lit(10000L) +
          pmod(Dedup.md5Hash60(col("source")), lit(90000L))).as("weight_ppm"))
      Sampling.epochPlan(toks, "source", "n_tok", weights,
          budget = 50000L, maxEpochsPpm = 2500000L)
        .orderBy("source")
    },

    // ── leakage-safe split: train/val/test assignment that keeps every
    //    near-dup CLUSTER in one split — per-doc hash splitting leaks a
    //    training doc's near-duplicate into eval. md5-ppm of the cluster
    //    id against driver-computed integer bands (0.8/0.1/0.1); oracle
    //    replays the q57 recursive-CTE components + the q78 md5 trick. ──
    QueryDef("q79_leakage_split",
      s"""WITH RECURSIVE pairs AS ($JaccardPairsSql),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
         |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
         |         FROM reach GROUP BY u),
         |a AS (SELECT d.doc_id,
         |        COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         |        CAST(COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS INT)
         |          AS keep
         |      FROM documents d LEFT JOIN comp c USING (doc_id)),
         |b AS (SELECT doc_id, cluster_id, keep,
         |        CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)
         |             AS BIGINT) % 1000000 AS ppm
         |      FROM a)
         |SELECT doc_id, cluster_id, keep,
         |  CASE WHEN ppm < 800000 THEN 'train'
         |       WHEN ppm < 900000 THEN 'val' ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin) { (s, d) =>
      // pair set served from the shared closure frame (r20)
      Sampling.leakageSafeSplit(
          Tables.documents(s, d).select(col("doc_id")), "doc_id",
          SharedFrames.lexPairs(s, d),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id")
    },

    // ── per-domain quality quota: cap every source at its BEST 20 docs
    //    by (n_chars desc, doc_id) — the anti-domination guard for
    //    crawl-heavy corpora; salted two-phase top-k so a mega-domain
    //    never sorts in a single task. ──
    QueryDef("q80_domain_quota",
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source, n_chars FROM r WHERE rk <= 20
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Sampling.topKPerStratum(
          Tables.documents(s, d).select(col("doc_id"), col("source"),
            col("n_chars")),
          "source", "doc_id", k = 20, ord = Seq(col("n_chars").desc))
        .orderBy("doc_id")
    },

    // ── in-corpus bigram-LM cross-entropy (CCNet-style perplexity proxy):
    //    add-1-smoothed p(w2|w1) from the corpus's own bigram counts,
    //    score = mean −ln p over the doc's bigrams. Per-row ln rounded to
    //    6 dp then summed AS DECIMAL — exact under any partition order;
    //    the mean publishes as integer ppm (micro-sum // count — never a
    //    rounded double ratio, the q171 divergence class). ──
    QueryDef("q81_lm_score",
      """WITH t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |             ELSE regexp_split_to_array(lower(trim(text)), '\s+') END
        |             AS toks
        |           FROM documents),
        |bg AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
        |         FOR i IN generate_series(1, len(toks)-1)]) AS g FROM t),
        |c12 AS (SELECT g, count(*) AS c12 FROM bg GROUP BY 1),
        |ctx AS (SELECT split_part(g, ' ', 1) AS w1, sum(c12) AS c1
        |        FROM c12 GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS v
        |      FROM (SELECT unnest(toks) AS tok FROM t)),
        |lp AS (SELECT doc_id,
        |         CAST(round(-ln((c12 + 1.0) / (c1 + 1.0 * v)), 6)
        |              AS DECIMAL(18,6)) AS lp
        |       FROM bg JOIN c12 USING (g)
        |       JOIN ctx ON ctx.w1 = split_part(g, ' ', 1) CROSS JOIN v),
        |d AS (SELECT doc_id, count(*) AS n_bigrams,
        |        CAST(CAST(sum(lp) * 1000000 AS HUGEINT) // count(*)
        |          AS BIGINT) AS ce_ppm
        |      FROM lp GROUP BY 1)
        |SELECT doc_id, coalesce(n_bigrams, 0) AS n_bigrams, ce_ppm
        |FROM documents LEFT JOIN d USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Scoring.bigramLmScore(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ── hashed linear classifier inference (fastText-style quality gate):
    //    each token contributes the weight of its md5-60 bucket (B=65536);
    //    weights here are a synthetic-but-deterministic model
    //    w(b) = (b % 2001 − 1000)/1000 so the oracle can replay inference
    //    exactly; integer micro-unit sum — no float agg anywhere. ──
    QueryDef("q82_classifier_score",
      """WITH t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |             ELSE regexp_split_to_array(lower(trim(text)), '\s+') END
        |             AS toks
        |           FROM documents),
        |s AS (SELECT doc_id,
        |        CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 65536 AS bkt
        |      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
        |      WHERE tok <> ''),
        |d AS (SELECT doc_id, count(*) AS n_toks,
        |        sum((bkt % 2001) - 1000) AS sm FROM s GROUP BY 1),
        |f AS (SELECT doc_id, n_toks,
        |        100000 + (CASE WHEN sm < 0 THEN -1 ELSE 1 END)
        |          * (abs(CAST(sm AS HUGEINT) * 1000) // n_toks) AS sp
        |      FROM d),
        |g AS (SELECT doc_id, coalesce(n_toks, 0) AS n_toks,
        |        coalesce(sp, 100000) AS sp
        |      FROM documents LEFT JOIN f USING (doc_id))
        |SELECT doc_id, n_toks, CAST(sp AS BIGINT) AS score_ppm,
        |  sp > 0 AS keep
        |FROM g ORDER BY doc_id""".stripMargin) { (s, d) =>
      val weights = s.range(65536).select(col("id").as("bucket"),
        (((col("id") % 2001) - 1000).cast("double") / 1000.0).as("weight"))
      Scoring.hashedLinearScore(Tables.documents(s, d), "doc_id", "text",
          weights, buckets = 65536, intercept = 0.1)
        .orderBy("doc_id")
    },

    // ── DSIR importance weights: hashed-unigram (B=4096) log-likelihood
    //    ratio of the src0 target domain vs the raw corpus, add-1
    //    smoothing; per-doc log-weight = decimal-exact sum of per-bucket
    //    6-dp-rounded ratios over the doc's token instances. ──
    QueryDef("q83_dsir_weights",
      """WITH t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |             ELSE regexp_split_to_array(lower(trim(text)), '\s+') END
        |             AS toks
        |           FROM documents),
        |s AS (SELECT doc_id,
        |        CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 4096 AS bkt
        |      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
        |      WHERE tok <> ''),
        |ct AS (SELECT bkt, count(*) AS ct FROM s JOIN documents USING (doc_id)
        |       WHERE source = 'src0' GROUP BY 1),
        |cr AS (SELECT bkt, count(*) AS cr FROM s GROUP BY 1),
        |nt AS (SELECT coalesce(sum(ct), 0) AS nt FROM ct),
        |nr AS (SELECT coalesce(sum(cr), 0) AS nr FROM cr),
        |dim AS (SELECT bkt,
        |          CAST(round(ln((coalesce(ct, 0) + 1.0) / (nt + 4096.0))
        |                   - ln((cr + 1.0) / (nr + 4096.0)), 6)
        |               AS DECIMAL(18,6)) AS lr
        |        FROM cr LEFT JOIN ct USING (bkt) CROSS JOIN nt CROSS JOIN nr),
        |d AS (SELECT doc_id, count(*) AS n_toks,
        |        round(CAST(sum(lr) AS DOUBLE), 6) AS dsir_logw
        |      FROM s JOIN dim USING (bkt) GROUP BY 1)
        |SELECT doc_id, coalesce(n_toks, 0) AS n_toks, dsir_logw
        |FROM documents LEFT JOIN d USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Scoring.dsirWeights(docs, "doc_id", "text",
          docs.where(col("source") === "src0"), "text", buckets = 4096)
        .orderBy("doc_id")
    },

    // ── q125: multiclass hashed language-ID (fastText-LID shape) — the
    //    `lang`-column producer for the per-language ops: per-class
    //    integer micro-unit scores over md5-60 hashed tokens (B=65536),
    //    argmax with smallest-lang tie-break; a synthetic-but-
    //    deterministic 3-class model w_i(b) = (((b·p_i + q_i) % 2001) −
    //    1000)/1000 (q82's convention, one (p, q) pair per class) so the
    //    oracle replays inference AND argmax exactly. Empty docs get NULL
    //    lang/score — no evidence, no verdict. ──
    QueryDef("q125_lang_id",
      """WITH t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |             ELSE regexp_split_to_array(lower(trim(text)), '\s+') END
        |             AS toks
        |           FROM documents),
        |s AS (SELECT doc_id,
        |        CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 65536 AS bkt
        |      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
        |      WHERE tok <> ''),
        |cls(lang, p, q) AS (VALUES ('de', 3, 17), ('en', 5, 29), ('fr', 7, 41)),
        |d AS (SELECT doc_id, lang, count(*) AS n_toks,
        |        sum(((bkt * p + q) % 2001) - 1000) AS sm
        |      FROM s CROSS JOIN cls GROUP BY 1, 2),
        |r AS (SELECT doc_id, n_toks, lang,
        |        CAST((CASE WHEN sm < 0 THEN -1 ELSE 1 END)
        |          * (abs(CAST(sm AS HUGEINT) * 1000) // n_toks)
        |          AS BIGINT) AS score_ppm,
        |        row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY sm DESC, lang) AS rk
        |      FROM d),
        |w AS (SELECT doc_id, n_toks, lang, score_ppm FROM r WHERE rk = 1)
        |SELECT doc_id, coalesce(w.n_toks, 0) AS n_toks,
        |  w.lang AS lang, w.score_ppm AS score_ppm
        |FROM documents LEFT JOIN w USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val weights = Seq(("de", 3L, 17L), ("en", 5L, 29L), ("fr", 7L, 41L))
        .map { case (l, p, q) =>
          s.range(65536).select(lit(l).as("lang"), col("id").as("bucket"),
            (((col("id") * p + q) % 2001 - 1000).cast("double") / 1000.0)
              .as("weight"))
        }.reduce(_ unionByName _)
      Scoring.langIdScore(Tables.documents(s, d), "doc_id", "text",
          weights, buckets = 65536)
        .orderBy("doc_id")
    },

    // ── vocabulary encoding: ids 0..49 for the 50 most frequent tokens
    //    (count desc, token asc — a deterministic total order), OOV id
    //    50 + md5-60(token) % 256; input_ids in original token order,
    //    space-joined for the cross-engine compare (the op itself returns
    //    array<long>). ──
    QueryDef("q84_vocab_encode",
      """WITH t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |             ELSE regexp_split_to_array(lower(trim(text)), '\s+') END
        |             AS toks
        |           FROM documents),
        |cnt AS (SELECT tok, count(*) AS c
        |        FROM (SELECT unnest(toks) AS tok FROM t)
        |        WHERE tok <> '' GROUP BY 1),
        |voc AS (SELECT tok, rn - 1 AS tid FROM (
        |          SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS rn
        |          FROM cnt) WHERE rn <= 50),
        |e AS (SELECT doc_id, i, toks[i] AS tok
        |      FROM (SELECT doc_id, toks,
        |              unnest(generate_series(1, len(toks))) AS i FROM t)
        |      WHERE toks[i] <> ''),
        |ids AS (SELECT doc_id, i,
        |          coalesce(tid,
        |            50 + CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 256)
        |            AS id
        |        FROM e LEFT JOIN voc USING (tok)),
        |d AS (SELECT doc_id, count(*) AS n_toks,
        |        array_to_string(list(id ORDER BY i), ' ') AS input_ids
        |      FROM ids GROUP BY 1)
        |SELECT doc_id, coalesce(n_toks, 0) AS n_toks,
        |  coalesce(input_ids, '') AS input_ids
        |FROM documents LEFT JOIN d USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.Export.vocabEncode(Tables.documents(s, d), "doc_id", "text",
          vocabSize = 50, oovBuckets = 256)
        .select(col("doc_id"), col("n_toks"),
          concat_ws(" ", transform(col("input_ids"), x => x.cast("string")))
            .as("input_ids"))
        .orderBy("doc_id")
    },

    // ── curation end-to-end: the full shaping chain COMPOSED — classifier
    //    quality gate (q82's model, keep score > 0) → per-source best-30
    //    quota by score (q80's salted top-k) → language mixture resample
    //    (q78's md5-ppm bands: en 0.5×, zh 2×). Every stage is individually
    //    oracle-proven; this query proves they compose without hidden
    //    coupling (score ties, band hashing, copy_id lineage). ──
    QueryDef("q85_curation_e2e",
      """WITH t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |             ELSE regexp_split_to_array(lower(trim(text)), '\s+') END
        |             AS toks
        |           FROM documents),
        |s AS (SELECT doc_id,
        |        CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 65536 AS bkt
        |      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
        |      WHERE tok <> ''),
        |d AS (SELECT doc_id, count(*) AS n_toks,
        |        sum((bkt % 2001) - 1000) AS sm FROM s GROUP BY 1),
        |sc AS (SELECT doc_id,
        |         100000 + (CASE WHEN sm < 0 THEN -1 ELSE 1 END)
        |           * CAST(abs(CAST(sm AS HUGEINT) * 1000) // n_toks
        |               AS BIGINT) AS score_ppm
        |       FROM d),
        |k AS (SELECT dd.doc_id, dd.lang, dd.source,
        |        coalesce(sc.score_ppm, 100000) AS score_ppm
        |      FROM documents dd LEFT JOIN sc USING (doc_id)
        |      WHERE coalesce(sc.score_ppm, 100000) > 0),
        |q AS (SELECT doc_id, lang, source, score_ppm,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY score_ppm DESC, doc_id) AS rk FROM k),
        |r AS (SELECT doc_id, lang, source, score_ppm FROM q WHERE rk <= 30),
        |b AS (SELECT doc_id, lang, source, score_ppm,
        |        CASE lang WHEN 'en' THEN 0 WHEN 'zh' THEN 2 ELSE 1 END
        |        + CASE WHEN (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |                          1, 15) AS BIGINT) % 1000000) <
        |                    CASE lang WHEN 'en' THEN 500000 ELSE 0 END
        |               THEN 1 ELSE 0 END AS n
        |      FROM r)
        |SELECT doc_id, lang, source, score_ppm,
        |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS copy_id
        |FROM b WHERE n > 0
        |ORDER BY doc_id, copy_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val weights = s.range(65536).select(col("id").as("bucket"),
        (((col("id") % 2001) - 1000).cast("double") / 1000.0).as("weight"))
      val scored = Scoring.hashedLinearScore(docs, "doc_id", "text",
          weights, buckets = 65536, intercept = 0.1)
        .join(docs.select(col("doc_id"), col("lang"), col("source")), "doc_id")
      val kept = scored.where(col("keep"))
        .select(col("doc_id"), col("lang"), col("source"), col("score_ppm"))
      val quota = Sampling.topKPerStratum(kept, "source", "doc_id",
        k = 30, ord = Seq(col("score_ppm").desc))
      Sampling.mixtureResample(quota, "lang", "doc_id",
          Map("en" -> 0.5, "zh" -> 2.0))
        .select(col("doc_id"), col("lang"), col("source"), col("score_ppm"),
          col("copy_id"))
        .orderBy("doc_id", "copy_id")
    },

    // ── exact top-fraction selection: keep the best 20% of the corpus by
    //    whitespace token count (ties by doc_id), global rank attached.
    //    Cutoff is integer-ppm arithmetic on both sides — ceil(p·N) in
    //    doubles disagrees with exact decimal at exact-multiple
    //    boundaries (ceil(0.1·500) = 51 in IEEE). ──
    QueryDef("q86_top_fraction",
      """WITH t AS (SELECT doc_id,
        |             CASE WHEN trim(text) = '' THEN 0
        |                  ELSE len(regexp_split_to_array(trim(text), '\s+'))
        |             END AS n_ws
        |           FROM documents),
        |r AS (SELECT doc_id, n_ws,
        |        row_number() OVER (ORDER BY n_ws DESC, doc_id) AS rank,
        |        count(*) OVER () AS n
        |      FROM t)
        |SELECT doc_id, n_ws, rank
        |FROM r WHERE rank <= (n * 200000 + 999999) // 1000000
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.tokenCountWs(col("text")).as("n_ws"))
      Sampling.keepTopFraction(toks, "doc_id", "n_ws", 0.2)
        .orderBy("doc_id")
    },

    // ── Okapi BM25 retrieval scores for a fixed query term set — the
    //    lexical-retrieval baseline every RAG/data-curation pipeline runs
    //    before (or blended with) the ANN tier. Per-term contributions are
    //    rounded to 6 dp and summed as DECIMAL(18,6) (the q81 pattern), so
    //    the doc score is order-of-addition-proof across engines. ──
    QueryDef("q87_bm25",
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
        |          FROM dl),
        |qtf AS (SELECT * FROM tf WHERE term IN ('join', 'hash', 'vector')),
        |df AS (SELECT term, count(*) AS df FROM qtf GROUP BY 1)
        |SELECT doc_id,
        |  CAST(CAST(sum(CAST(round(
        |    ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
        |    tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6)
        |    AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS VARCHAR) AS score
        |FROM qtf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Text.bm25(Tables.documents(s, d), "doc_id", "text",
          Seq("join", "hash", "vector"))
        .orderBy("doc_id")
    },

    // ── PMI collocations over adjacent-token bigrams (Church & Hanks) —
    //    the corpus-analysis pass that surfaces multi-word expressions.
    //    Bigrams form inside the row (zip_with over shifted slices); only
    //    vocabulary-sized count tables ever shuffle. ──
    QueryDef("q90_pmi_collocations",
      """WITH t AS (SELECT list_filter(
        |             regexp_split_to_array(lower(trim(text)), '\s+'),
        |             x -> x <> '') AS toks
        |           FROM documents),
        |bg AS (SELECT unnest([{'x': toks[i], 'y': toks[i+1]}
        |         FOR i IN generate_series(1, len(toks)-1)]) AS b FROM t),
        |cxy AS (SELECT b.x AS x, b.y AS y, count(*) AS c_xy FROM bg
        |        GROUP BY 1, 2),
        |cx AS (SELECT tok, count(*) AS c
        |       FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
        |nb AS (SELECT CAST(sum(c_xy) AS DOUBLE) AS nb FROM cxy),
        |nt AS (SELECT CAST(sum(c) AS DOUBLE) AS nt FROM cx)
        |SELECT x || ' ' || y AS bigram, c_xy,
        |  round(ln((c_xy / nb) / ((ux.c / nt) * (uy.c / nt))), 6) AS pmi
        |FROM cxy
        |JOIN cx ux ON ux.tok = x
        |JOIN cx uy ON uy.tok = y
        |CROSS JOIN nb CROSS JOIN nt
        |WHERE c_xy >= 5
        |ORDER BY bigram""".stripMargin) { (s, d) =>
      Text.pmiBigrams(Tables.documents(s, d), "text", minCount = 5L)
        .orderBy("bigram")
    },

    // ── CONTAINMENT near-dup pairs: |A∩B|/min(|A|,|B|) — the asymmetric
    //    relation Jaccard misses (truncated shard inside a long doc has
    //    containment ~1 but tiny Jaccard). Oracle is the brute-force
    //    distinct-8-gram containment join. ──
    QueryDef("q69_containment",
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [substr(text, i::INT, 8) FOR i IN generate_series(1, greatest(length(text)-7, 1))]
        |  )) AS gram FROM documents
        |), sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        |  FROM g a JOIN g b USING (gram) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |       CAST(c AS DOUBLE) / least(sa.n, sb.n) AS containment
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(c AS DOUBLE) / least(sa.n, sb.n) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
          shingleN = 8, threshold = 0.9)
        .orderBy("doc_a", "doc_b")
    },

    // ── shard dedup end-to-end: containment pairs → closure → keep the
    //    LONGEST member of each containment cluster (the superset doc),
    //    dropping truncated shards and wholesale quotes — the composition
    //    that makes q69 actionable. ──
    QueryDef("q71_shard_dedup",
      """WITH RECURSIVE g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [substr(text, i::INT, 8) FOR i IN generate_series(1, greatest(length(text)-7, 1))]
        |  )) AS gram FROM documents
        |), sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        |  FROM g a JOIN g b USING (gram) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(c AS DOUBLE) / least(sa.n, sb.n) >= 0.9),
        |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        |      UNION SELECT doc_b, doc_a FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
        |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
        |         FROM reach GROUP BY u),
        |asg AS (
        |  SELECT d.doc_id, d.n_chars,
        |         COALESCE(c.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN comp c USING (doc_id)),
        |rk AS (
        |  SELECT doc_id, n_chars, cluster_id,
        |    row_number() OVER (
        |      PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS r
        |  FROM asg)
        |SELECT doc_id, n_chars, cluster_id, CAST(r = 1 AS INT) AS keep
        |FROM rk ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Pairs served from the shared frame (r20): q69's deliverable IS
      // the containment pair set (it keeps building live); q71 composes
      // the STORED pairs into closure + keeper selection — the
      // lexPairs/q64 pattern applied to the containment family.
      Dedup.dedupKeepBest(
          Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          "doc_id", SharedFrames.containPairs(s, d),
          priority = col("n_chars"))
        .orderBy("doc_id")
    },

    // ── benchmark decontamination: per corpus doc, the fraction of its
    //    distinct 8-grams present anywhere in the held-out benchmark split
    //    (doc_id % 50 = 0) — the eval-contamination quarantine signal. ──
    QueryDef("q65_contamination",
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [substr(text, i::INT, 8) FOR i IN generate_series(1, greatest(length(text)-7, 1))]
        |  )) AS gram FROM documents),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |corp AS (SELECT doc_id, gram FROM g WHERE doc_id % 50 <> 0)
        |SELECT c.doc_id, count(*) AS n_grams,
        |  count(b.gram) AS n_hit,
        |  CAST(count(b.gram) AS DOUBLE) / count(*) AS contamination
        |FROM corp c LEFT JOIN bench b USING (gram)
        |GROUP BY c.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.contaminationScores(
          docs.where(col("doc_id") % 50 =!= 0),
          docs.where(col("doc_id") % 50 === 0),
          "doc_id", "text", shingleN = 8)
        .orderBy("doc_id")
    },

    // ── TF-IDF scoring table: whitespace tokens, corpus document
    //    frequency, tf·ln(N/df) rounded to 6 dp (cross-engine ln contract,
    //    as with the ANN cosine scores). ──
    QueryDef("q59_tfidf",
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term <> '' GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, term, tf, df,
        |       round(tf * round(ln(CAST(n AS DOUBLE) / df), 6), 6) AS tfidf
        |FROM tf JOIN df USING (term) CROSS JOIN n
        |ORDER BY doc_id, term""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Text.tfIdf(docs, "doc_id", "text")
        .orderBy("doc_id", "term")
    },

    // ── verbatim duplicated spans: any 50-char window occurring >= 2
    //    times in the corpus, merged into maximal per-doc character
    //    intervals (the exact-substring dedup shape). Spark flags windows
    //    by positional 64-bit hash; the oracle by the gram text itself. ──
    QueryDef("q60_dup_spans",
      """WITH d0 AS (
        |  SELECT doc_id, text, length(text) AS len FROM documents
        |  WHERE length(text) >= 1),
        |pos AS (
        |  SELECT doc_id, text, len,
        |    unnest(generate_series(1, greatest(len - 49, 1))) AS p
        |  FROM d0),
        |g AS (SELECT doc_id, len, p, substr(text, p::INT, 50) AS gram FROM pos),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |f AS (SELECT doc_id, p, least(p + 49, len) AS e FROM g JOIN dup USING (gram)),
        |w AS (
        |  SELECT doc_id, p, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY p
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM f),
        |isl AS (
        |  SELECT doc_id, p, e,
        |    sum(CASE WHEN pm IS NULL OR p > pm + 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY p) AS island
        |  FROM w)
        |SELECT doc_id, min(p) AS span_start, max(e) AS span_end,
        |       count(*) AS n_grams
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      Text.duplicatedSpans(Tables.documents(s, d), "doc_id", "text",
          n = 50, minOccur = 2L)
        .orderBy("doc_id", "span_start")
    },

    // ── exact-substring dedup REMOVAL: q60's merged duplicated spans cut
    //    out of each document, novel remainder kept (docs without spans
    //    pass through). Compared by length + md5 of the cleaned text —
    //    both engines must produce the byte-identical surgery. ──
    QueryDef("q67_despan",
      """WITH d0 AS (
        |  SELECT doc_id, text, length(text) AS len FROM documents
        |  WHERE length(text) >= 1),
        |pos AS (
        |  SELECT doc_id, text, len,
        |    unnest(generate_series(1, greatest(len - 49, 1))) AS p
        |  FROM d0),
        |g AS (SELECT doc_id, len, p, substr(text, p::INT, 50) AS gram FROM pos),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |f AS (SELECT doc_id, p, least(p + 49, len) AS e FROM g JOIN dup USING (gram)),
        |w AS (
        |  SELECT doc_id, p, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY p
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM f),
        |isl AS (
        |  SELECT doc_id, p, e,
        |    sum(CASE WHEN pm IS NULL OR p > pm + 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY p) AS island
        |  FROM w),
        |sp AS (SELECT doc_id, min(p) AS s, max(e) AS e
        |       FROM isl GROUP BY doc_id, island),
        |gaps AS (
        |  SELECT doc_id, s, e,
        |    lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY s) AS pe
        |  FROM sp),
        |tails AS (SELECT doc_id, max(e) AS me FROM sp GROUP BY doc_id),
        |pieces AS (
        |  SELECT g2.doc_id, g2.s AS ord,
        |    substr(d0.text, CAST(g2.pe + 1 AS INT), CAST(g2.s - g2.pe - 1 AS INT)) AS piece
        |  FROM gaps g2 JOIN d0 USING (doc_id)
        |  UNION ALL
        |  SELECT t.doc_id, 2147483647 AS ord,
        |    substr(d0.text, CAST(t.me + 1 AS INT)) AS piece
        |  FROM tails t JOIN d0 USING (doc_id)),
        |cleaned AS (
        |  SELECT doc_id, coalesce(string_agg(piece, '' ORDER BY ord), '') AS ct
        |  FROM pieces GROUP BY doc_id)
        |SELECT d.doc_id, length(coalesce(c.ct, d.text)) AS clean_len,
        |       md5(coalesce(c.ct, d.text)) AS clean_md5
        |FROM documents d LEFT JOIN cleaned c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      Text.removeDuplicatedSpans(Tables.documents(s, d), "doc_id", "text",
          n = 50, minOccur = 2L)
        .select(col("doc_id"),
          length(col("clean_text")).cast("bigint").as("clean_len"),
          md5(col("clean_text").cast("binary")).as("clean_md5"))
        .orderBy("doc_id")
    },

    // ── PII scrub: e-mail / SSN / IPv4 redaction with typed placeholders.
    //    The fixture text carries no PII, so a contaminated footer is
    //    synthesized from doc_id (oracle replays it); the md5 of the
    //    redacted text proves both engines produced the identical scrub. ──
    QueryDef("q52_pii_redact",
      """WITH c AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@mail.example.com or ' ||
        |    'ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |    ' from 10.0.' || (doc_id % 256) || '.7' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    AS n_emails,
        |  len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssns,
        |  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS redacted_md5
        |FROM c
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val c = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@mail.example.com or ssn 123-45-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10.0."), col("doc_id") % 256, lit(".7")).as("t"))
      c.select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit(TextFunctions.EmailRx), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("t"), lit(TextFunctions.SsnRx), lit(0)))
            .cast("long").as("n_ssns"),
          size(regexp_extract_all(col("t"), lit(TextFunctions.Ipv4Rx), lit(0)))
            .cast("long").as("n_ips"),
          md5(TextFunctions.redactPii(col("t")).cast("binary")).as("redacted_md5"))
        .orderBy("doc_id")
    },

    // ── fixed-window chunking with overlap (size 500 / stride 400): every
    //    char covered, short tail kept; md5 per chunk proves byte parity. ──
    QueryDef("q53_chunking",
      """WITH n AS (
        |  SELECT doc_id, text,
        |    generate_series(0, greatest((length(text) - 1) // 400, 0)) AS idxs
        |  FROM documents),
        |x AS (SELECT doc_id, unnest(idxs) AS idx, text FROM n)
        |SELECT doc_id, CAST(idx AS INT) AS chunk_idx,
        |  length(substr(text, CAST(idx * 400 + 1 AS INT), 500)) AS chunk_len,
        |  md5(substr(text, CAST(idx * 400 + 1 AS INT), 500)) AS chunk_md5
        |FROM x
        |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          explode(TextFunctions.chunkFixed(col("text"), size = 500, stride = 400))
            .as("c"))
        .select(col("doc_id"), col("c.idx").as("chunk_idx"),
          length(col("c.chunk")).cast("long").as("chunk_len"),
          md5(col("c.chunk").cast("binary")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },

    // ── q91: subword (BPE) encoding. The merge table and vocabulary are
    //    DETERMINISTIC PINNED LITERALS learned once by Export.bpeLearn /
    //    bpeVocab on the sf0.001 documents fixture (regenerate with
    //    `runMain graft.BpePin /root/testdata/sf0.001 24`; BpeSpec asserts
    //    the pins equal a fresh learn, so they can't drift from the
    //    learner). Both engines replay the IDENTICAL nested replace chain
    //    over U+001F-marked symbol strings — `replace` is leftmost
    //    non-overlapping in both Spark and DuckDB, which is exactly BPE's
    //    application order — so the oracle proves the encoding, and the
    //    hashed-OOV tail keeps q84's contract for symbols outside the
    //    48-entry vocab. ──
    QueryDef("q91_bpe_encode", BpeOracleSql) { (s, d) =>
      graft.ops.Export.bpeEncode(Tables.documents(s, d), "doc_id", "text",
          BpeMerges, BpeVocab, oovBuckets = 256)
        .select(col("doc_id"), col("n_toks"),
          concat_ws(" ", transform(col("input_ids"), x => x.cast("string")))
            .as("input_ids"))
        .orderBy("doc_id")
    },

    // ── q92: PQ-compressed ANN with exact re-rank — the index-storage
    //    answer for 100 TB of embeddings (q73 persists full float64
    //    vectors per cell; this persists m=8 one-byte codes + a norm).
    //    Codebooks are a deterministic per-subspace k-means fit (lowest-id
    //    init, 2 rounds — same reproducibility convention as q48's
    //    centroids), every cell is probed and ADC keeps 80 candidates per
    //    query, so the published result must equal the BRUTE-FORCE oracle
    //    exactly: the compression may decide who pays the exact join,
    //    never what the ranks/sims are. SimilaritySpec asserts the
    //    compression ratio and the recall margin. ──
    QueryDef("q92_ann_pq", BruteTopKSql) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      val cents = emb.where(col("id") < 16).orderBy(col("id")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq
      // Fit on the bounded md5-ordered sample (the production contract —
      // fit cost capped independent of corpus size); the re-rank margin
      // absorbs the codebook drift, so the oracle equality is unchanged.
      val books = Similarity.pqFitCodebooks(emb, dim = 64, m = 32, ksub = 16,
        iters = 2, maxSample = 4096)
      val pqIdx = Similarity.pqIndex(Similarity.ivfIndex(emb, cents),
        dim = 64, m = 32, books)
      Similarity.pqTopKAgainstIndex(emb.where(col("id") % 50 === 0), pqIdx,
          emb, cents, books, dim = 64, m = 32,
          nprobe = 16, rerank = 80, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
        .orderBy("query_id", "rank")
    },

    // ── q93: unigram-LM (SentencePiece-style) subword encoding — the
    //    EM-trained complement to q91's BPE. The piece table is a
    //    DETERMINISTIC PINNED LITERAL fit by Unigram.unigramFit on the
    //    sf0.001 documents fixture (regenerate with `runMain
    //    graft.UnigramPin /root/testdata/sf0.001 48`; UnigramSpec asserts
    //    the pins equal a fresh fit). Scores are integer micro-log-probs,
    //    so the Viterbi DP is exact integer arithmetic; the oracle
    //    replays it by FULL ENUMERATION — a recursive CTE walks every
    //    segmentation of every distinct word and picks the argmax under
    //    the identical (score desc, piece-count asc, padded-id-path asc)
    //    order the kernel's DP uses — so the two engines can only agree
    //    if the DP is exactly the enumeration argmax. ──
    QueryDef("q93_unigram_encode", UnigramOracleSql) { (s, d) =>
      graft.ops.Unigram.unigramEncode(Tables.documents(s, d), "doc_id",
          "text", UnigramPieces, oovBuckets = 256)
        .select(col("doc_id"), col("n_toks"),
          concat_ws(" ", transform(col("input_ids"), x => x.cast("string")))
            .as("input_ids"))
        .orderBy("doc_id")
    },

    // ── q94: residual (IVF-PQ) ANN — the production form of q92
    //    (Jégou et al.'s IVFADC): a real spherical-k-means coarse
    //    quantizer (deterministic lowest-id init, 2 rounds), codes over
    //    vec − centroid(cell), ADC adds ⟨q, c_cell⟩ back per probe row.
    //    Same contract as q92: the compression decides only who pays the
    //    exact re-rank join, so the result must equal the BRUTE-FORCE
    //    oracle exactly — and because residuals carry only the variance
    //    the quantizer didn't explain, the same rerank budget holds a
    //    wider margin (SimilaritySpec: 100/100 true rows at rerank=40
    //    where raw PQ keeps 88). ──
    QueryDef("q94_ann_ivfpq", BruteTopKSql) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      val cents = Similarity.fitCentroids(emb, k = 16, iters = 2,
        maxSample = 4096)
      val books = Similarity.pqFitCodebooksResidual(emb, cents, dim = 64,
        m = 32, ksub = 16, iters = 2, maxSample = 4096)
      val pqIdx = Similarity.pqIndexResidual(Similarity.ivfIndex(emb, cents),
        dim = 64, m = 32, books, cents)
      Similarity.pqTopKAgainstIndex(emb.where(col("id") % 50 === 0), pqIdx,
          emb, cents, books, dim = 64, m = 32,
          nprobe = 16, rerank = 80, k = 10, residualCents = Some(cents))
        .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
        .orderBy("query_id", "rank")
    },

    // ── weighted sampling WITHOUT replacement + unbiased estimator
    //    (priority sampling, Duffield–Lund–Thorup): sample 100 docs with
    //    probability sensitive to n_chars, emit the threshold estimator
    //    ŵ = max(w, τ). Exact integer priorities (w·1e6 div md5-ppm+1),
    //    so the oracle replays selection AND estimator bit-for-bit. ──
    QueryDef("q95_priority_sample",
      """WITH p AS (
        |  SELECT doc_id, n_chars,
        |    (n_chars * 1000000) //
        |      ((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |         AS BIGINT) % 1000000) + 1) AS priority
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER
        |        (ORDER BY priority DESC, doc_id) AS rk FROM p),
        |t AS (SELECT coalesce(max(CASE WHEN rk = 101 THEN priority
        |                           END), 0) AS tau FROM r)
        |SELECT doc_id, n_chars, priority,
        |       greatest(n_chars, tau) AS w_hat
        |FROM r CROSS JOIN t
        |WHERE rk <= 100
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Sampling.prioritySample(Tables.documents(s, d), "doc_id", "n_chars",
          k = 100)
        .select(col("doc_id"), col("n_chars"), col("priority"),
          col("w_hat"))
        .orderBy("doc_id")
    },

    // ── temperature-flattened language mix (XLM-R rebalance): per-lang
    //    keep rates ∝ n^0.5 derived in-plan from the counts, target 30%
    //    of the corpus. sqrt is IEEE-exact and the normalizer is an
    //    integer-ppm sum, so the oracle replays the rates exactly. ──
    QueryDef("q98_temperature_sample",
      """WITH c AS (SELECT lang AS s, COUNT(*) AS n FROM documents
        |           GROUP BY 1),
        |t AS (SELECT s, n, CAST(round(sqrt(n) * 1000000) AS BIGINT)
        |        AS sppm FROM c),
        |z AS (SELECT SUM(sppm) AS z, SUM(n) AS tot FROM t),
        |r AS (SELECT s,
        |        LEAST(1000000, CAST(round(((0.3 * CAST(tot AS DOUBLE)) *
        |          (CAST(sppm AS DOUBLE) / CAST(z AS DOUBLE)) /
        |          CAST(n AS DOUBLE)) * 1000000) AS BIGINT)) AS rate_ppm
        |      FROM t CROSS JOIN z)
        |SELECT d.doc_id, d.lang, r.rate_ppm
        |FROM documents d JOIN r ON d.lang = r.s
        |WHERE (CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
        |         AS BIGINT) % 1000000) < r.rate_ppm
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      Sampling.temperatureSample(Tables.documents(s, d), "lang", "doc_id",
          targetFraction = 0.3)
        .select(col("doc_id"), col("lang"), col("rate_ppm"))
        .orderBy("doc_id")
    },

    // ── q104: tokenizer-efficiency evaluation — UTF-8 bytes per subword
    //    token, per language, under the pinned q91 BPE tokenizer. The
    //    standard way to compare tokenizers / spot languages a vocabulary
    //    underserves (a high bytes-per-token language is being fragmented
    //    into characters). One corpus scan: the map-side codegen'd merge
    //    kernel yields per-doc token counts, then a map-side-combinable
    //    per-lang sum; the ratio is exact integer ppm (floor), so no float
    //    crosses the engine boundary. Oracle replays the identical merge
    //    chain (BpeChainSql, same pinned literals as q91). ──
    QueryDef("q104_bytes_per_token",
      s"""WITH t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |             ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END
        |             AS toks
        |           FROM documents),
        |w AS (SELECT doc_id, toks[i] AS w
        |      FROM (SELECT doc_id, toks,
        |              unnest(generate_series(1, len(toks))) AS i FROM t)
        |      WHERE toks[i] <> ''),
        |sq AS (SELECT doc_id, $BpeChainSql AS s FROM w),
        |c AS (SELECT doc_id,
        |        CAST(SUM(len(string_split(s, ' '))) AS BIGINT) AS n_toks
        |      FROM sq GROUP BY 1),
        |g AS (SELECT lang,
        |        CAST(SUM(octet_length(encode(text))) AS BIGINT) AS bytes,
        |        CAST(SUM(COALESCE(c.n_toks, 0)) AS BIGINT) AS toks
        |      FROM documents LEFT JOIN c USING (doc_id) GROUP BY 1)
        |SELECT lang, bytes, toks, (1000000 * bytes) // toks AS bpt_ppm
        |FROM g ORDER BY lang""".stripMargin) { (s, d) =>
      val enc = graft.ops.Export.bpeEncode(Tables.documents(s, d), "doc_id",
        "text", BpeMerges, BpeVocab, oovBuckets = 256)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          octet_length(col("text")).cast("long").as("n_bytes"))
        .join(enc.select(col("doc_id"), col("n_toks")), Seq("doc_id"))
        .groupBy("lang")
        .agg(sum("n_bytes").as("bytes"), sum("n_toks").as("toks"))
        .select(col("lang"), col("bytes"), col("toks"),
          expr("1000000 * bytes div toks").as("bpt_ppm"))
        .orderBy("lang")
    },

    // ── q107: incremental snapshot delta — per-doc added / removed /
    //    changed / unchanged status between two corpus snapshots, decided
    //    on md5 content fingerprints (both sides reduce to (id, fp) at the
    //    scan; ONE co-partitionable full-outer join carries 16-byte
    //    fingerprints, never text) — the primitive that lets a recurring
    //    100 TB crawl reprocess only its delta. Snapshots are derived
    //    deterministically from the fixture: 1-in-11 docs removed,
    //    1-in-13 added, 1-in-7 revised. ──
    QueryDef("q107_snapshot_diff",
      """WITH o AS (SELECT doc_id,
        |        md5(CASE WHEN text IS NULL THEN 'n:'
        |            ELSE 'v' || length(text) || ':' || text END) AS fp
        |      FROM documents WHERE doc_id % 11 <> 0),
        |n0 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
        |              ELSE text END AS t
        |       FROM documents WHERE doc_id % 13 <> 0),
        |n AS (SELECT doc_id,
        |        md5(CASE WHEN t IS NULL THEN 'n:'
        |            ELSE 'v' || length(t) || ':' || t END) AS fp
        |      FROM n0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.fp IS NULL THEN 'added'
        |       WHEN n.fp IS NULL THEN 'removed'
        |       WHEN o.fp = n.fp THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val old = docs.where(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"), col("text"))
      val neu = docs.where(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text"))
      graft.ops.Ops.snapshotDiff(old, neu, "doc_id", Seq("text"))
        .orderBy("doc_id")
    },

    // ── q108: duplication profile — the cluster-size histogram of the
    //    near-dup graph ("how duplicated is this corpus, and in what
    //    shape"): n_clusters and n_docs per exact cluster size, from the
    //    same lossless Jaccard pairs + connected components q57 publishes,
    //    so the oracle replays the closure and aggregates it identically.
    //    Output is sketch-sized (distinct cluster sizes), the input one
    //    pass over the assignment table. ──
    QueryDef("q108_dedup_profile",
      s"""WITH RECURSIVE pairs AS ($JaccardPairsSql),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
         |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
         |         FROM reach GROUP BY u),
         |asg AS (SELECT d.doc_id,
         |          COALESCE(c.cluster_id, d.doc_id) AS cluster_id
         |        FROM documents d LEFT JOIN comp c USING (doc_id)),
         |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size
         |       FROM asg GROUP BY 1)
         |SELECT cluster_size, COUNT(*) AS n_clusters,
         |  cluster_size * COUNT(*) AS n_docs
         |FROM sz GROUP BY 1 ORDER BY cluster_size""".stripMargin) { (s, d) =>
      // cluster table served from the shared closure frame (r20)
      SharedFrames.lexClusters(s, d)
        .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))
        .orderBy("cluster_size")
    },

    // ── q109: percentile-rank ensemble scoring — the standard way to
    //    BLEND heterogeneous quality signals (a ratio in [0,1], a length,
    //    a classifier logit all live on different scales; percentile
    //    ranks are scale-free). Each signal is rank-normalized to integer
    //    ppm under a total order (signal, doc_id) via the pinned
    //    range-exchange ranker (no unpartitioned window), then averaged
    //    with floor division — all integers, engine-exact. Signals:
    //    stopword ratio ASC (more natural prose ranks higher) and
    //    punctuation ratio DESC (less punctuation noise ranks higher). ──
    QueryDef("q109_score_ensemble",
      """WITH q AS (SELECT doc_id,
        |  CASE WHEN trim(text) = '' THEN 0.0
        |       ELSE CAST(len([t FOR t IN regexp_split_to_array(lower(trim(text)), '\s+')
        |                      IF t IN ('the','a','of','and','to','in','is')]) AS DOUBLE)
        |            / len(regexp_split_to_array(lower(trim(text)), '\s+')) END AS sw,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE)
        |            / length(text) END AS pr
        |  FROM documents),
        |n AS (SELECT COUNT(*) AS n FROM q),
        |r AS (SELECT doc_id,
        |        ROW_NUMBER() OVER (ORDER BY sw ASC NULLS LAST, doc_id ASC)
        |          AS rn1,
        |        ROW_NUMBER() OVER (ORDER BY pr DESC NULLS LAST, doc_id ASC)
        |          AS rn2
        |      FROM q)
        |SELECT doc_id,
        |  ((rn1 - 1) * 1000000) // (n - 1) AS sw_pct_ppm,
        |  ((rn2 - 1) * 1000000) // (n - 1) AS punct_pct_ppm,
        |  (((rn1 - 1) * 1000000) // (n - 1)
        |    + ((rn2 - 1) * 1000000) // (n - 1)) // 2 AS blend_ppm
        |FROM r CROSS JOIN n ORDER BY doc_id""".stripMargin) { (s, d) =>
      val sigs = Tables.documents(s, d).select(
        col("doc_id"),
        TextFunctions.stopwordRatio(col("text")).as("sw"),
        TextFunctions.punctRatio(col("text")).as("pr"))
      // NULLS LAST pinned on both sides: Spark's bare asc is nulls-first,
      // DuckDB's is nulls-last — a NULL-text doc would shift every rank.
      val r1 = graft.ops.Ops.globalRowNumber(sigs,
          Seq(col("sw").asc_nulls_last, col("doc_id").asc), "rn1")
        .select(col("doc_id"), col("rn1"))
      val r2 = graft.ops.Ops.globalRowNumber(sigs,
          Seq(col("pr").desc_nulls_last, col("doc_id").asc), "rn2")
        .select(col("doc_id"), col("rn2"))
      // n from the already-ranked (internally persisted) frame — counting
      // `sigs` again would re-scan the corpus and re-run both regex ratios.
      val n = r1.agg(count(lit(1)).as("n"))
      r1.join(r2, Seq("doc_id"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"),
          expr("((rn1 - 1) * 1000000) div (n - 1)").as("sw_pct_ppm"),
          expr("((rn2 - 1) * 1000000) div (n - 1)").as("punct_pct_ppm"),
          expr("(((rn1 - 1) * 1000000) div (n - 1) + " +
            "((rn2 - 1) * 1000000) div (n - 1)) div 2").as("blend_ppm"))
        .orderBy("doc_id")
    },

    // ── q110: vocabulary OOV-rate audit — per-language fraction (ppm) of
    //    subword tokens falling through to the hashed-OOV tail under the
    //    pinned q91 vocabulary: the coverage complement to q104's
    //    bytes-per-token (a language can look byte-efficient while
    //    hashing half its mass into collision buckets). One scan through
    //    the codegen'd merge kernel; OOV = token id beyond the vocab
    //    table, counted with a map-side-combinable per-lang sum. ──
    QueryDef("q110_oov_rate", OovOracleSql) { (s, d) =>
      val vocabSize = BpeVocab.size.toLong
      val enc = graft.ops.Export.bpeEncode(Tables.documents(s, d), "doc_id",
        "text", BpeMerges, BpeVocab, oovBuckets = 256)
      Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .join(enc.select(col("doc_id"), col("n_toks"),
          size(filter(col("input_ids"), x => x >= lit(vocabSize)))
            .cast("long").as("n_oov")), Seq("doc_id"))
        .groupBy("lang")
        .agg(sum("n_toks").as("toks"), sum("n_oov").as("oov"))
        .select(col("lang"), col("toks"), col("oov"),
          expr("1000000 * oov div toks").as("oov_ppm"))
        .orderBy("lang")
    },

    // ── q118: HTML main-content extraction — the first stage of a
    //    web-corpus pipeline (strip script/style/comments + tags, decode
    //    entities, then keep only long, link-sparse blocks: the jusText/
    //    trafilatura boilerplate heuristic). The fixture wraps every
    //    document in a realistic page (nav links, heading, body copy with
    //    an inline anchor, a conditional second paragraph, comment +
    //    link-dense footer); the extractor must recover exactly the body
    //    copy. All regexes are RE2-safe and shared verbatim with the
    //    oracle, link density is integer ppm — the whole extraction is
    //    engine-replayable, map-only until one output-sized groupBy. ──
    QueryDef("q118_html_main_content", HtmlOracleSql) { (s, d) =>
      graft.ops.Html.mainContent(
          Tables.documents(s, d).select(col("doc_id"), WebPage.as("html")),
          "doc_id", "html", minChars = 60, maxLinkPpm = 300000L)
        .orderBy("doc_id")
    },

    // ── q126: the web-corpus pipeline END-TO-END (the CCNet shape) —
    //    q118's HTML main-content extraction → q120's cross-corpus
    //    repeated-paragraph removal → q81's in-corpus bigram-LM scoring
    //    (fitted on the CLEANED text — scoring garbage the earlier stages
    //    failed to remove is the point of the staging) → q98's
    //    temperature-flattened language sample over the survivors. Proves
    //    the four stages compose without hidden coupling the way q85
    //    proved the curation chain: the repeated q118 fixture paragraph
    //    (df=100) is extracted as main content by stage 1 and then
    //    removed as boilerplate by stage 2; the LM vocabulary and the
    //    per-lang sampling rates derive from the SURVIVING corpus, not
    //    the raw one. Oracle replays all four stages in one CTE chain. ──
    QueryDef("q126_web_pipeline_e2e", WebPipelineSql) { (s, d) =>
      val content = graft.ops.Html.mainContent(
        Tables.documents(s, d).select(col("doc_id"), WebPage.as("html")),
        "doc_id", "html", minChars = 60, maxLinkPpm = 300000L)
      // pinned: the cleaned corpus feeds BOTH the LM-score branch and
      // the sampling branch — without it the HTML parse + paragraph-dedup
      // chain (the pipeline's expensive half) runs twice (the q113
      // double-scan lesson).
      val cleaned = graft.core.Caches.pin(graft.ops.Text.dropRepeatedParagraphs(
          content.select(col("doc_id"), col("content").as("text")),
          "doc_id", "text", minDf = 20L))
      val lm = Scoring.bigramLmScore(
        cleaned.select(col("doc_id"), col("clean_text").as("text")),
        "doc_id", "text")
      val sampled = Sampling.temperatureSample(
        cleaned.join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
          Seq("doc_id")),
        "lang", "doc_id", targetFraction = 0.3)
      sampled.select(col("doc_id"), col("lang"), col("rate_ppm"))
        .join(lm, Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("rate_ppm"),
          col("n_bigrams"), col("ce_ppm"))
        .orderBy("doc_id")
    },

    // ── q120: cross-corpus repeated-paragraph removal — the CCNet
    //    paragraph-dedup stage: boilerplate (newsletter banners, per-lang
    //    category footers) repeats ACROSS pages at paragraph granularity
    //    where doc-level dedup can't see it. The fixture appends one
    //    corpus-wide banner, one per-language footer and one unique
    //    footer to every document; df counting runs over md5-120
    //    paragraph keys (16 bytes per paragraph — the key drives
    //    deletion, so 60 bits would collide at CCNet scale),
    //    blank separator lines are structure and survive. ──
    QueryDef("q120_paragraph_dedup",
      """WITH d2 AS (SELECT doc_id,
        |    text || chr(10)
        |      || 'Subscribe to our newsletter for daily updates.'
        |      || chr(10) || 'Category: ' || lang || chr(10) || chr(10)
        |      || 'Doc ' || CAST(doc_id AS VARCHAR) || ' footer.' AS t
        |  FROM documents),
        |p AS (SELECT doc_id,
        |        unnest(generate_series(1, len(arr))) AS pi,
        |        unnest(arr) AS para
        |      FROM (SELECT doc_id, string_split(t, chr(10)) AS arr
        |            FROM d2)),
        |ph AS (SELECT doc_id, pi, para,
        |         CAST('0x' || substr(md5(para), 1, 15) AS BIGINT) AS ha,
        |         CAST('0x' || substr(md5(para), 17, 15) AS BIGINT) AS hb,
        |         trim(para) = '' AS blank
        |       FROM p),
        |hot AS (SELECT ha, hb FROM ph WHERE NOT blank
        |        GROUP BY ha, hb HAVING COUNT(DISTINCT doc_id) >= 20),
        |keep AS (SELECT * FROM ph WHERE NOT EXISTS
        |          (SELECT 1 FROM hot
        |           WHERE hot.ha = ph.ha AND hot.hb = ph.hb)),
        |agg AS (SELECT doc_id,
        |          string_agg(para, chr(10) ORDER BY pi) AS clean_text,
        |          SUM(CASE WHEN blank THEN 0 ELSE 1 END) AS n_kept
        |        FROM keep GROUP BY 1),
        |tot AS (SELECT doc_id, COUNT(*) AS total FROM ph
        |        WHERE NOT blank GROUP BY 1)
        |SELECT a.doc_id, a.clean_text, CAST(a.n_kept AS BIGINT) AS n_kept,
        |  CAST(COALESCE(t.total, 0) - a.n_kept AS BIGINT) AS n_dropped
        |FROM agg a LEFT JOIN tot t USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t2 = concat(col("text"),
        lit("\nSubscribe to our newsletter for daily updates.\nCategory: "),
        col("lang"),
        lit("\n\nDoc "), col("doc_id").cast("string"), lit(" footer."))
      graft.ops.Text.dropRepeatedParagraphs(
          Tables.documents(s, d).select(col("doc_id"), t2.as("text")),
          "doc_id", "text", minDf = 20L)
        .orderBy("doc_id")
    },

    // ── q122: per-label embedding centroids (mean pooling) — the
    //    domain/cluster prototype primitive. Components round to 6 dp
    //    and sum as DECIMAL(38,12) (exact, associative — layout- and
    //    engine-proof, the Scoring decimal contract), one trailing
    //    double division; the shuffle carries labels × 64 partial sums,
    //    never vectors. Flat (label, d, c, n) rows hash-compare directly. ──
    QueryDef("q122_group_centroids",
      """WITH v AS (SELECT label,
        |    unnest(generate_series(0, len(embedding) - 1)) AS d,
        |    unnest(embedding::DOUBLE[]) AS v
        |  FROM embeddings
        |  WHERE label IS NOT NULL AND embedding IS NOT NULL
        |    AND len(embedding) = 64
        |    -- mirror the op's whole-vector malformed-component drop
        |    AND len(list_filter(embedding::DOUBLE[],
        |          x -> x IS NULL OR isnan(x) OR abs(x) >= 1e9)) = 0),
        |a AS (SELECT label, d, SUM(CAST(round(v, 6) AS DECIMAL(38,12))) AS s,
        |        COUNT(*) AS n
        |      FROM v GROUP BY 1, 2)
        |SELECT label, d,
        |  (CASE WHEN s < 0 THEN -1 ELSE 1 END
        |     * (CAST(abs(s) * 1000000 AS HUGEINT) // n)) / 1000000.0 AS c, n
        |FROM a ORDER BY label, d""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("label"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      graft.ops.Similarity.groupCentroids(emb, "label", "vec", dim = 64)
        .orderBy("label", "d")
    },

    // ── q173: simplified silhouette per label cluster — the internal
    //    clustering-quality audit (centroid-form silhouette: one cosine
    //    per point×centroid instead of the quadratic pairwise scan).
    //    Centroids replay q122's decimal-exact means, cosines are the
    //    q23 list_inner_product chain, s lands as floor(s·1e6 + 0.5)
    //    micro-units and the mean is integer division — no double ever
    //    crosses an aggregation. ──
    QueryDef("q173_silhouette",
      """WITH e AS (SELECT vec_id AS id, label AS cl,
        |    embedding::DOUBLE[] AS vec
        |  FROM embeddings
        |  WHERE label IS NOT NULL AND embedding IS NOT NULL
        |    AND len(embedding) = 64
        |    AND len(list_filter(embedding::DOUBLE[],
        |          x -> x IS NULL OR isnan(x) OR abs(x) >= 1e9)) = 0),
        |vd AS (SELECT cl, unnest(generate_series(0, len(vec) - 1)) AS d,
        |         unnest(vec) AS x FROM e),
        |cd AS (SELECT cl, d, (CASE WHEN sum(CAST(round(x, 6)
        |             AS DECIMAL(38,12))) < 0 THEN -1 ELSE 1 END
        |           * (CAST(abs(sum(CAST(round(x, 6) AS DECIMAL(38,12))))
        |                * 1000000 AS HUGEINT) // count(*))) / 1000000.0 AS c
        |       FROM vd GROUP BY 1, 2),
        |cv AS (SELECT cl AS cc, list(c ORDER BY d) AS cvec FROM cd GROUP BY 1),
        |sc AS (SELECT e.id, e.cl, cv.cc,
        |         round(list_inner_product(e.vec, cv.cvec) /
        |           (sqrt(list_inner_product(e.vec, e.vec)) *
        |            sqrt(list_inner_product(cv.cvec, cv.cvec))), 6) AS sim
        |       FROM e CROSS JOIN cv),
        |pp AS (SELECT id, cl,
        |         max(CASE WHEN cc = cl THEN sim END) AS sa,
        |         max(CASE WHEN cc <> cl THEN sim END) AS sb
        |       FROM sc GROUP BY 1, 2),
        |sp AS (SELECT cl, CASE WHEN sb IS NOT NULL THEN CAST(floor(
        |         (CASE WHEN greatest(CAST(1 AS DOUBLE) - sa,
        |                             CAST(1 AS DOUBLE) - sb) > 0
        |          THEN ((CAST(1 AS DOUBLE) - sb) - (CAST(1 AS DOUBLE) - sa))
        |            / greatest(CAST(1 AS DOUBLE) - sa,
        |                       CAST(1 AS DOUBLE) - sb)
        |          ELSE CAST(0 AS DOUBLE) END)
        |         * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |         AS BIGINT) END AS sppm
        |       FROM pp)
        |SELECT cl AS label, count(*) AS n, count(sppm) AS n_scored,
        |  CAST(sum(sppm) AS BIGINT) AS s_sum_ppm,
        |  CASE WHEN count(sppm) > 0
        |    THEN CAST(sum(sppm) AS BIGINT) // count(sppm) END AS s_mean_ppm
        |FROM sp GROUP BY 1 ORDER BY label""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id").as("id"),
        col("label"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      graft.ops.Similarity.silhouetteSimplified(emb, "id", "label", "vec",
          dim = 64)
        .orderBy("label")
    },

    // ── q174: Zipf-slope vocabulary audit — least-squares ln(freq) vs
    //    ln(rank) over the top-256 tokens (natural text ≈ −1; deviation
    //    flags templated/synthetic corpora). q159's tokenizer, salted
    //    two-phase head ranking, exact-decimal regression sums, three
    //    IEEE ratios at the end. ──
    QueryDef("q174_zipf_slope",
      """WITH toks AS (SELECT unnest(CASE WHEN trim(text) = '' THEN []
        |    ELSE regexp_split_to_array(lower(trim(text)), '\s+') END) AS tok
        |  FROM documents),
        |tk AS (SELECT tok FROM toks WHERE tok <> ''),
        |f AS (SELECT tok, count(*) AS f FROM tk GROUP BY 1),
        |top AS (SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS rank
        |        FROM f ORDER BY f DESC, tok LIMIT 256),
        |p AS (SELECT CAST(floor(round(ln(CAST(rank AS DOUBLE)), 6)
        |               * 1000000.0 + 0.5) AS HUGEINT) AS xu,
        |             CAST(floor(round(ln(CAST(f AS DOUBLE)), 6)
        |               * 1000000.0 + 0.5) AS HUGEINT) AS yu FROM top),
        |ag AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |        sum(xu) AS sx, sum(yu) AS sy,
        |        sum(xu * yu) AS sxy, sum(xu * xu) AS sxx,
        |        sum(yu * yu) AS syy
        |      FROM p),
        |fin AS (SELECT n, sx, sy,
        |        n * sxy - sx * sy AS num,
        |        n * sxx - sx * sx AS den,
        |        n * syy - sy * sy AS deny
        |      FROM ag),
        |sl AS (SELECT n, sx, sy, num, den, deny,
        |        CASE WHEN den <> 0
        |          THEN (CASE WHEN num < 0 THEN -1 ELSE 1 END)
        |            * ((abs(num) * 1000000) // den) END AS slope_ppm
        |      FROM fin),
        |ic AS (SELECT *, sy * 1000000 - slope_ppm * sx AS inum FROM sl)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(slope_ppm AS BIGINT) AS slope_ppm,
        |  CASE WHEN den <> 0
        |    THEN CAST((CASE WHEN inum < 0 THEN -1 ELSE 1 END)
        |      * (abs(inum) // (n * 1000000)) AS BIGINT)
        |  END AS intercept_ppm,
        |  CASE WHEN den <> 0 AND deny <> 0
        |    THEN CAST((slope_ppm * num) // deny AS BIGINT)
        |  END AS r2_ppm
        |FROM ic""".stripMargin) { (s, d) =>
      graft.ops.Profile.zipfSlope(Tables.documents(s, d), "text",
        topV = 256)
    },

    // ── q176: out-link + anchor-text extraction — the web-graph edge
    //    builder (feeds PageRank / crawl frontiers). Fixture HTML per doc
    //    exercises every resolution rule: absolute, root-relative,
    //    scheme-relative, skipped relative/fragment, mailto passthrough,
    //    inline markup + entities inside the anchor. The oracle replays
    //    the identical RE2 href regex, the resolution CASE, and the full
    //    htmlToText chain (strip3 → tag strip → entity decode → collapse
    //    → trim). ──
    QueryDef("q176_extract_links",
      s"""WITH $LinkRowsCtes
         |SELECT doc_id, CAST(pos AS BIGINT) AS pos, link_url, anchor
         |FROM r WHERE link_url IS NOT NULL
         |ORDER BY doc_id, pos""".stripMargin) { (s, d) =>
      graft.ops.Html.extractLinks(linkFixture(s, d), "doc_id", "html", "base")
        .withColumn("pos", col("pos").cast("long"))
        .orderBy("doc_id", "pos")
    },

    // ── q178: domain-level link graph — the composition chain that
    //    turns q176's raw anchors into web-graph edges (what PageRank /
    //    the graph spine actually ingests): http(s)-only filter →
    //    urlHost → registrableDomain on BOTH endpoints → per
    //    (src_domain, dst_domain) link and distinct-page counts. The
    //    whole chain (href regex, resolution, scheme gate, host parse,
    //    second-level-registry domain fold) replays in ONE oracle — the
    //    q85/q126/q167 no-hidden-coupling discipline. ──
    QueryDef("q178_link_graph", {
      val host = (x: String) =>
        s"lower(regexp_replace(regexp_extract(regexp_extract($x," +
          s" '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)," +
          s" '(?:.*@)?([^@]*)$$', 1), ':[0-9]*$$', ''))"
      val dom = (h: String) =>
        s"""CASE WHEN regexp_extract($h, '$SecondLevelSql', 1) <> ''
           |      THEN regexp_extract($h, '$SecondLevelSql', 1)
           |    WHEN regexp_extract($h, '([^.]+\\.[^.]+)$$', 1) <> ''
           |      THEN regexp_extract($h, '([^.]+\\.[^.]+)$$', 1)
           |    ELSE $h END""".stripMargin
      s"""WITH $LinkRowsCtes,
         |k AS (SELECT doc_id, base, link_url FROM r
         |      WHERE link_url IS NOT NULL
         |        AND lower(regexp_extract(link_url,
         |          '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
         |          IN ('http', 'https')),
         |hh AS (SELECT doc_id, ${host("base")} AS sh,
         |         ${host("link_url")} AS dh FROM k),
         |dd AS (SELECT doc_id, ${dom("sh")} AS src_domain,
         |         ${dom("dh")} AS dst_domain FROM hh)
         |SELECT src_domain, dst_domain, count(*) AS links,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS pages
         |FROM dd GROUP BY 1, 2
         |ORDER BY src_domain, dst_domain""".stripMargin
    }) { (s, d) =>
      import graft.ops.Web
      val docs = linkFixture(s, d)
      val links = graft.ops.Html.extractLinks(docs, "doc_id", "html", "base")
      val src = docs.select(col("doc_id"),
        Web.registrableDomain(Web.urlHost(col("base"))).as("src_domain"))
      links
        .where(Web.urlScheme(col("link_url")).isin("http", "https"))
        .join(src, "doc_id")
        .groupBy(col("src_domain"),
          Web.registrableDomain(Web.urlHost(col("link_url")))
            .as("dst_domain"))
        .agg(count(lit(1)).as("links"),
          countDistinct(col("doc_id")).as("pages"))
        .orderBy("src_domain", "dst_domain")
    },

    // ── q175: Flesch readability — reading-ease + grade level per doc
    //    from exact word/sentence/syllable counts (heuristics stated in
    //    the op contract); scores in floor(x·1000+0.5) milli-units so no
    //    decimal-grid round ever crosses engines. ──
    QueryDef("q175_readability",
      """WITH s AS (SELECT doc_id, text,
        |    greatest(1, len(regexp_extract_all(text, '[.!?]+')))
        |      AS sentences
        |  FROM documents),
        |t AS (SELECT doc_id, sentences,
        |    unnest(CASE WHEN trim(text) = '' THEN []
        |      ELSE regexp_split_to_array(lower(trim(text)), '\s+') END)
        |      AS tok
        |  FROM s),
        |tk AS (SELECT doc_id, sentences, tok FROM t WHERE tok <> ''),
        |a AS (SELECT doc_id, sentences, count(*) AS words,
        |    CAST(sum(greatest(1, len(regexp_extract_all(tok, '[aeiouy]+'))))
        |      AS BIGINT) AS syllables
        |  FROM tk GROUP BY 1, 2)
        |SELECT doc_id, words, CAST(sentences AS BIGINT) AS sentences,
        |  syllables,
        |  CAST(floor((CAST(206.835 AS DOUBLE)
        |    - CAST(1.015 AS DOUBLE) *
        |      (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
        |    - CAST(84.6 AS DOUBLE) *
        |      (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE)))
        |    * CAST(1000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |    AS fre_milli,
        |  CAST(floor((CAST(0.39 AS DOUBLE) *
        |      (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
        |    + CAST(11.8 AS DOUBLE) *
        |      (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
        |    - CAST(15.59 AS DOUBLE))
        |    * CAST(1000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |    AS fk_milli
        |FROM a ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ops.Text.readability(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ── q177: character-n-gram novelty vs a reference corpus — the
    //    RATIO view of decontamination/memorization (q70 locates spans;
    //    this scores fractions). Fixture: eval = even docs verbatim
    //    (novelty 0) + odd docs reversed (novel); reference = the full
    //    corpus. The oracle joins the literal 50-grams (hash ≡ gram at
    //    fixture scale, the q70 convention). ──
    QueryDef("q177_ngram_novelty",
      """WITH tr AS (SELECT text, length(text) AS len FROM documents
        |            WHERE length(text) >= 1),
        |ev AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN text
        |         ELSE reverse(text) END AS text
        |       FROM documents),
        |e1 AS (SELECT doc_id, text, length(text) AS len FROM ev
        |       WHERE length(text) >= 1),
        |pos AS (SELECT doc_id, text, len,
        |    unnest(generate_series(1, greatest(len - 49, 1))) AS p
        |  FROM e1),
        |g AS (SELECT doc_id, substr(text, p::INT, 50) AS gram FROM pos),
        |bg AS (SELECT DISTINCT substr(text, p::INT, 50) AS gram FROM
        |       (SELECT text, unnest(generate_series(1,
        |          greatest(len - 49, 1))) AS p FROM tr)),
        |j AS (SELECT g.doc_id,
        |        CASE WHEN bg.gram IS NULL THEN 0 ELSE 1 END AS sn
        |      FROM g LEFT JOIN bg ON g.gram = bg.gram)
        |SELECT doc_id, count(*) AS ngrams, CAST(sum(sn) AS BIGINT) AS seen,
        |  (count(*) - CAST(sum(sn) AS BIGINT)) * CAST(1000000 AS BIGINT)
        |    // count(*) AS novelty_ppm
        |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs0 = Tables.documents(s, d)
      val eval = docs0.select(col("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(reverse(col("text"))).as("text"))
      graft.ops.Text.ngramNovelty(eval, "doc_id", "text",
          docs0.select(col("text")), "text", n = 50)
        .orderBy("doc_id")
    },

    // ── q179: inverted index build — the retrieval-serving artifact
    //    (term → sorted postings + exact df). maxPostings = 8 so the
    //    synthetic vocabulary's hot terms exercise the truncation path
    //    (df > len(postings)) while rare terms stay whole. postings
    //    serialize to a space-joined string at the query boundary (the
    //    q84 convention — declared queries emit SCALAR columns only). ──
    QueryDef("q179_inverted_index",
      """WITH toks AS (SELECT doc_id,
        |    unnest(CASE WHEN trim(text) = '' THEN []
        |      ELSE regexp_split_to_array(lower(trim(text)), '\s+') END)
        |      AS term
        |  FROM documents),
        |tk AS (SELECT DISTINCT doc_id, term FROM toks WHERE term <> ''),
        |df AS (SELECT term, count(*) AS df FROM tk GROUP BY 1),
        |rk AS (SELECT term, doc_id, row_number() OVER (
        |         PARTITION BY term ORDER BY doc_id) AS rn FROM tk),
        |p AS (SELECT term, list(doc_id ORDER BY doc_id) AS postings
        |      FROM rk WHERE rn <= 8 GROUP BY 1)
        |SELECT df.term, df, array_to_string(postings, ' ') AS postings
        |FROM df JOIN p USING (term)
        |ORDER BY term""".stripMargin) { (s, d) =>
      graft.ops.Text.invertedIndex(Tables.documents(s, d), "doc_id",
          "text", maxPostings = 8)
        .select(col("term"), col("df"),
          array_join(transform(col("postings"), _.cast("string")), " ")
            .as("postings"))
        .orderBy("term")
    },

    // ── q182: conjunctive retrieval served FROM the q179 index — the
    //    lookup path of the serving artifact: docs containing both
    //    'query' AND 'window'. maxPostings = 500 ≥ every df at this
    //    corpus, so serving is exact and the oracle states ground truth
    //    directly from the documents (the contract's exactness
    //    condition, df == len(postings), holds). ──
    QueryDef("q182_index_search",
      """WITH toks AS (SELECT doc_id,
        |    unnest(CASE WHEN trim(text) = '' THEN []
        |      ELSE regexp_split_to_array(lower(trim(text)), '\s+') END)
        |      AS term
        |  FROM documents),
        |tk AS (SELECT DISTINCT doc_id, term FROM toks WHERE term <> '')
        |SELECT doc_id FROM tk WHERE term IN ('query', 'window')
        |GROUP BY 1 HAVING count(DISTINCT term) = 2
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val idx = graft.ops.Text.invertedIndex(Tables.documents(s, d),
        "doc_id", "text", maxPostings = 500)
      graft.ops.Text.searchConjunctive(idx, Seq("query", "window"))
        .orderBy("doc_id")
    },

    // ── q198: RANKED retrieval served from the tf-carrying inverted
    //    index — the third leg of the serving tier (q179 build, q182
    //    boolean, THIS scores): top-10 by BM25 over the union of the
    //    query terms' postings, scored with q87's exact expression chain
    //    (idf·norm round-6, decimal sums). maxPostings = 500 ≥ every df
    //    at this corpus, so the oracle states ground truth directly from
    //    the documents (the exactness condition df == len(postings)). ──
    QueryDef("q198_index_search_ranked",
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
        |          FROM dl),
        |qtf AS (SELECT * FROM tf WHERE term IN ('query', 'window')),
        |df AS (SELECT term, count(*) AS df FROM qtf GROUP BY 1),
        |sc AS (SELECT doc_id,
        |    CAST(sum(CAST(round(
        |      ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
        |      tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6)
        |      AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS score
        |  FROM qtf JOIN df USING (term) JOIN dl USING (doc_id)
        |  CROSS JOIN stats GROUP BY doc_id),
        |r AS (SELECT doc_id, score, row_number() OVER (
        |        ORDER BY score DESC, doc_id) AS rank FROM sc)
        |SELECT doc_id, CAST(score AS VARCHAR) AS score,
        |  CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val idx = graft.ops.Text.invertedIndexTf(docs, "doc_id", "text",
        maxPostings = 500)
      val dls = graft.ops.Text.docLengths(docs, "doc_id", "text")
      graft.ops.Text.searchBm25(idx, dls, Seq("query", "window"), k = 10)
        .orderBy("rank")
    },

    // ── q201: trending terms — the vocabulary-level drift monitor
    //    (q135's bucket audit says THAT the mix moved; this names WHAT):
    //    even-doc slice vs odd-doc slice, Laplace-smoothed relative-rate
    //    ratio as ONE integral division of exact products, min support
    //    5, top 20 by (ratio desc, term). ──
    QueryDef("q201_trending_terms",
      """WITH cur AS (SELECT t AS term, count(*) AS c FROM (
        |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
        |      AS t FROM documents WHERE doc_id % 2 = 0) WHERE t <> ''
        |  GROUP BY 1),
        |prv AS (SELECT t AS term, count(*) AS c FROM (
        |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
        |      AS t FROM documents WHERE doc_id % 2 = 1) WHERE t <> ''
        |  GROUP BY 1),
        |j AS (SELECT coalesce(cur.term, prv.term) AS term,
        |        coalesce(cur.c, 0) AS c_cur, coalesce(prv.c, 0) AS c_prev
        |      FROM cur FULL OUTER JOIN prv ON cur.term = prv.term),
        |tt AS (SELECT sum(c_cur) AS nc, sum(c_prev) AS np, count(*) AS v
        |       FROM j),
        |sc AS (SELECT term, c_cur, c_prev,
        |    CAST(((CAST(c_cur AS HUGEINT) + 1) * (np + v) * 1000000)
        |      // ((CAST(c_prev AS HUGEINT) + 1) * (nc + v)) AS BIGINT)
        |      AS ratio_ppm
        |  FROM j CROSS JOIN tt WHERE c_cur >= 5),
        |r AS (SELECT *, row_number() OVER (ORDER BY ratio_ppm DESC, term)
        |        AS rank FROM sc)
        |SELECT term, c_cur, c_prev, ratio_ppm, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.ops.Text.trendingTerms(
          docs.where(col("doc_id") % 2 === 0), "text",
          docs.where(col("doc_id") % 2 === 1), "text",
          topN = 20, minCount = 5L)
        .orderBy("rank")
    },

    // ── q183: SCD-2 history build — the change log of each user's
    //    event_type collapsed into validity intervals (half-open
    //    [from, to), NULL valid_to = current). (ts, value) ordering
    //    makes versioning a pure function of the row multiset. ──
    QueryDef("q183_scd2_history",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type AS v
        |           FROM events),
        |x AS (SELECT user_id, us, v,
        |        CASE WHEN lag(us) OVER w IS NULL
        |               OR lag(v) OVER w IS DISTINCT FROM v
        |             THEN 1 ELSE 0 END AS nw
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, v)),
        |s AS (SELECT user_id, us, v,
        |        CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY us, v
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
        |      FROM x),
        |g AS (SELECT user_id, version, v AS event_type,
        |        min(us) AS valid_from, count(*) AS n_rows
        |      FROM s GROUP BY 1, 2, 3)
        |SELECT user_id, version, event_type, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
        |    AS valid_to, n_rows
        |FROM g ORDER BY user_id, version""".stripMargin) { (s, d) =>
      val ev = graft.queries.RelationalQueries.eventsNs(s, d)
        .select(col("user_id"), Tables.floorDiv("ts", 1000L).as("us"),
          col("event_type"))
      graft.ops.Ops.scd2History(ev, "user_id", "us", Seq("event_type"))
        .select(col("user_id"), col("version"), col("event_type"),
          col("valid_from"), col("valid_to"), col("n_rows"))
        .orderBy("user_id", "version")
    },

    // ── q191: kNN majority-vote classification — label every 50th
    //    vector from its 10 nearest labeled neighbors (q23's exact
    //    cosine chain + an integer vote, ties to the smallest label);
    //    the no-training embedding classifier that bootstraps a small
    //    labeled set over a corpus. ──
    QueryDef("q191_knn_classify",
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT query_id, e.vec_id AS neighbor_id,
        |    round(list_inner_product(qe, e.embedding::DOUBLE[]) /
        |      (sqrt(list_inner_product(qe, qe)) *
        |       sqrt(list_inner_product(e.embedding::DOUBLE[],
        |                               e.embedding::DOUBLE[]))), 6) AS sim
        |  FROM q, embeddings e WHERE e.vec_id <> query_id),
        |top AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |                               ORDER BY sim DESC, neighbor_id)
        |    AS rank
        |  FROM scored) WHERE rank <= 10),
        |v AS (SELECT query_id, l.label, count(*) AS votes
        |      FROM top JOIN embeddings l ON l.vec_id = top.neighbor_id
        |      GROUP BY 1, 2),
        |r AS (SELECT query_id, label AS pred_label, votes,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY votes DESC, label) AS rn
        |      FROM v)
        |SELECT query_id, pred_label, votes FROM r WHERE rn = 1
        |ORDER BY query_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"),
        col("label"))
      graft.ops.Similarity.knnClassify(
          emb.where(col("id") % 50 === 0).select(col("id"), col("vec")),
          emb, "label", k = 10)
        .orderBy("query_id")
    },

    // ── q192: anchor-text aggregation — per target URL, in-link counts
    //    and the dominant anchor text (the classic link-context signal a
    //    search/description pipeline mines): q176's links grouped by
    //    target with the most-frequent anchor (ties lexicographic). ──
    QueryDef("q192_anchor_signal",
      s"""WITH $LinkRowsCtes,
         |k AS (SELECT doc_id, pos, link_url, anchor FROM r
         |      WHERE link_url IS NOT NULL),
         |agg AS (SELECT link_url, count(*) AS n_links,
         |          CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages
         |        FROM k GROUP BY 1),
         |an AS (SELECT link_url, anchor, count(*) AS cnt
         |       FROM k GROUP BY 1, 2),
         |ta AS (SELECT link_url, anchor AS top_anchor, cnt AS top_cnt
         |       FROM (SELECT *, row_number() OVER (PARTITION BY link_url
         |               ORDER BY cnt DESC, anchor) AS rn FROM an)
         |       WHERE rn = 1)
         |SELECT agg.link_url AS link_url, n_links, n_pages, top_anchor,
         |  top_cnt
         |FROM agg JOIN ta ON agg.link_url = ta.link_url
         |ORDER BY link_url""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val links = graft.ops.Html.extractLinks(linkFixture(s, d),
        "doc_id", "html", "base")
      val agg = links.groupBy(col("link_url"))
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("doc_id")).as("n_pages"))
      val w = Window.partitionBy(col("link_url"))
        .orderBy(col("cnt").desc, col("anchor").asc)
      val ta = links.groupBy(col("link_url"), col("anchor"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
        .select(col("link_url"), col("anchor").as("top_anchor"),
          col("cnt").as("top_cnt"))
      agg.join(ta, Seq("link_url")).orderBy("link_url")
    },

    // ── q127: URL parsing + canonicalization — the crawl-frontier /
    //    URL-dedup key (RefinedWeb's first gate). The fixture builds a
    //    deterministic absolute URL per document exercising every
    //    normalization rule: mixed-case scheme/host, userinfo, default
    //    and non-default ports, tracking params mixed with real ones,
    //    unsorted params, fragments. The oracle replays the identical
    //    RE2-safe regex grammar in DuckDB. ──
    QueryDef("q127_url_normalize", UrlPartsSql) { (s, d) =>
      graft.ops.Web.withUrlParts(
          Tables.documents(s, d).select(col("doc_id"), FixtureUrl.as("url")),
          "url")
        .select(col("doc_id"), col("url"), col("scheme"), col("host"),
          col("domain"), col("path"), col("norm_url"))
        .orderBy("doc_id")
    },

    // ── q128: per-registrable-domain corpus stats behind a domain
    //    blocklist — the table crawl policy keys on. Subdomains of one
    //    registrable domain fold together (www.srcN.example.co.uk all
    //    land in example.co.uk; n_hosts counts the distinct hosts), the
    //    blocklist anti-join is broadcast (map-only at corpus size). ──
    QueryDef("q128_domain_stats", DomainStatsSql) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), FixtureUrl.as("url"), col("text"))
      graft.ops.Web.domainStats(
          graft.ops.Web.filterBlockedDomains(docs, "url",
            Seq("example.org").toDF("domain")),
          "url", "text")
        .orderBy("domain")
    },

    // ── q129: PII redaction — the pre-release privacy scrub (emails →
    //    IPv4s → phone-shaped runs, each replaced by a typed token and
    //    counted in that order). The fixture appends one of each to
    //    every document; the oracle interpolates the SAME regex strings
    //    the op compiles, so the two engines can never drift pattern-wise.
    //    One map-only scan: three regexp_replace + three regexp_count,
    //    no shuffle. ──
    QueryDef("q129_pii_redact", PiiSql) { (s, d) =>
      val t2 = concat(col("text"),
        lit(" Contact user"), col("doc_id").cast("string"),
        lit("@Mail.Example.com,"),
        lit(" ip 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") % 100).cast("string"), lit(","),
        lit(" call 555 010 "),
        (lit(1000) + col("doc_id") % 9000).cast("string"),
        lit(", or +1 (555) 010-"),
        (lit(1000) + col("doc_id") % 9000).cast("string"),
        lit(", era 1914-1918."))
      graft.ops.Text.redactPii(
          Tables.documents(s, d).select(col("doc_id"), t2.as("text")),
          "doc_id", "text")
        .orderBy("doc_id")
    },

    // ── q131: CCNet perplexity buckets — per language, cut the corpus
    //    into head/middle/tail thirds by bigram-LM cross-entropy (Wenzek
    //    et al. §4.3; training recipes sample the buckets at different
    //    rates). Thresholds are VALUE-based (t_j = smallest score with
    //    cum·3 ≥ j·n, ties never straddle a cut) so the oracle replays
    //    the definition with a plain window while the engine computes the
    //    same cum two-level (no single-task per-language sort). ──
    QueryDef("q131_ppl_buckets", PplBucketsSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val scored = Scoring.bigramLmScore(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      Scoring.quantileBuckets(scored, "lang", "ce_ppm", b = 3)
        .select(col("doc_id"), col("lang"), col("ce_ppm"),
          when(col("bucket") === 0, lit("head"))
            .when(col("bucket") === 1, lit("middle"))
            .when(col("bucket") === 2, lit("tail")).as("ppl_bucket"))
        .orderBy("doc_id")
    },

    // ── q132: token-window chunking — the retrieval-index / fixed-context
    //    sequence-prep step: 64-token windows advancing by 48 (16-token
    //    overlap), positional chunk ids, zero chunks for empty docs, no
    //    all-overlap tail windows. One map-only pass (no shuffle at any
    //    corpus size); the oracle replays the start arithmetic and list
    //    slicing in DuckDB. ──
    QueryDef("q132_chunk_tokens",
      """WITH t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |             ELSE regexp_split_to_array(trim(text), '\s+') END
        |             AS toks
        |           FROM documents),
        |st AS (SELECT doc_id, toks,
        |         unnest([s FOR s IN
        |                 generate_series(0, greatest(len(toks)-1, 0), 48)
        |                 IF s < len(toks)
        |                    AND (s = 0 OR s + 16 < len(toks))]) AS s
        |       FROM t)
        |SELECT doc_id, CAST(s // 48 AS INT) AS chunk_idx,
        |  CAST(s AS BIGINT) AS start_tok,
        |  CAST(len(toks[s+1:s+64]) AS INT) AS n_toks,
        |  array_to_string(toks[s+1:s+64], ' ') AS chunk_text
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      Text.chunkTokens(Tables.documents(s, d), "doc_id", "text",
          chunkSize = 64, overlap = 16)
        .orderBy("doc_id", "chunk_idx")
    },

    // ── q202: IVF compaction — the serve-equality ENDPOINT of the
    //    append/refresh lifecycle (q196/q130's miss class closed): build
    //    under the frozen first-16 quantizer, refresh the drifted cells
    //    (q196's audit + Lloyd step), then COMPACT — one map-only full
    //    re-assignment that rewrites only cells whose membership changed.
    //    After it the stored index must equal a fresh build under the
    //    refreshed centroids EXACTLY, so the oracle skips the
    //    intermediate states entirely: it replays the drift audit to get
    //    the refreshed centroids, then assigns every vector directly —
    //    per-ID membership, the strongest equality check. ──
    QueryDef("q202_ivf_compact", IvfCompactSql) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      val cents = emb.where(col("id") < 16).orderBy(col("id")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ivf-compact").toString
      Similarity.ivfIndex(emb, cents).write.mode("overwrite")
        .partitionBy("_cell").parquet(dir)
      val (newCents, _) = Similarity.ivfCentroidRefresh(s, dir, cents,
        driftPpm = 190000L)
      Similarity.ivfCompact(s, dir, newCents)
      s.read.parquet(dir)
        .select(col("id"), col("_cell").cast("int").as("cell"))
        .orderBy("id")
    },

    // ── q203: multiclass one-vs-all language-ID FIT + serve — the
    //    training half of q125's server (closing the last
    //    bring-your-own-model seam): per class (de/en/fr — a fixed fit
    //    slice so the class list is a query constant), the q195 exact
    //    integer-GD loop against the binarized label over ONE shared
    //    hashed-token feature frame; the stacked (lang, bucket,
    //    weight_u) model — bucket −1 rows are per-class intercepts —
    //    serves ALL docs through langIdScore unchanged (argmax over
    //    Σw + intercept·n, signed-ppm published score). The oracle
    //    unrolls all three 3-epoch trajectories and the serve verbatim. ──
    QueryDef("q203_langid_fit", LangIdFitSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val model = Scoring.langIdFit(
        docs.where(col("lang").isin("de", "en", "fr")),
        "doc_id", "text", "lang", buckets = 512, epochs = 3)
      val wdf = model.select(col("lang"), col("bucket"),
        (col("weight_u").cast("double") / 1e6).as("weight"))
      Scoring.langIdScore(docs, "doc_id", "text", wdf, buckets = 512)
        .orderBy("doc_id")
    },

    // ── q204: PQ compaction — q202's true-up for the COMPRESSED layout,
    //    proven at the SERVING contract: build the residual IVF-PQ index
    //    under the stale first-16 quantizer, refresh drifted cells
    //    (pqCentroidRefresh re-encodes their residual codes), COMPACT
    //    (pqCompact moves + re-encodes every stray), then serve with
    //    exhaustive probes + exact re-rank — which must equal the
    //    brute-force ground truth (q94's proven equality condition), so
    //    the oracle is the same exact-cosine top-k SQL. A stray left
    //    behind would carry residual codes against the wrong centroid
    //    and surface here as a wrong ADC shortlist. ──
    QueryDef("q204_pq_compact", BruteTopKSql) { (s, d) =>
      val emb = Tables.embeddings(s, d).select(
        col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      val cents0 = emb.where(col("id") < 16).orderBy(col("id")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq
      val books = Similarity.pqFitCodebooksResidual(emb, cents0, dim = 64,
        m = 32, ksub = 16, iters = 2, maxSample = 4096)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-pq-compact").toString
      Similarity.pqIndexResidual(Similarity.ivfIndex(emb, cents0),
          dim = 64, m = 32, books, cents0)
        .write.mode("overwrite").partitionBy("_cell").parquet(dir)
      val (newCents, _) = Similarity.pqCentroidRefresh(s, dir, emb,
        dim = 64, m = 32, books, cents0, driftPpm = 190000L,
        residual = true)
      Similarity.pqCompact(s, dir, emb, dim = 64, m = 32, books, newCents,
        residual = true)
      Similarity.pqTopKAgainstIndex(emb.where(col("id") % 50 === 0),
          s.read.parquet(dir), emb, newCents, books, dim = 64, m = 32,
          nprobe = 16, rerank = 80, k = 10, residualCents = Some(newCents))
        .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
        .orderBy("query_id", "rank")
    }
  )

  /** The q127/q128 fixture URL: a deterministic absolute URL per document
    * covering every normalization rule — mixed-case scheme and host,
    * userinfo, default port on https (stripped) AND on http (:443 kept —
    * not that scheme's default), non-default ports, tracking params
    * interleaved with real ones, unsorted params, fragments. Shared by
    * both queries so parse and aggregate can never drift. */
  private lazy val FixtureUrl: org.apache.spark.sql.Column = concat(
    when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("http")),
    lit("://"),
    when(col("doc_id") % 7 === 0, lit("crawler:pw@")).otherwise(lit("")),
    lit("WWW."), col("source"),
    when(col("doc_id") % 3 === 0, lit(".Example.CO.UK"))
      .when(col("doc_id") % 3 === 1, lit(".example.com"))
      .otherwise(lit(".News.example.ORG")),
    when(col("doc_id") % 5 === 0, lit(":443"))
      .when(col("doc_id") % 5 === 1, lit(":8080"))
      .otherwise(lit("")),
    lit("/Articles/"), col("doc_id").cast("string"),
    when(col("doc_id") % 4 === 0,
      concat(lit("?utm_source=feed&id="), col("doc_id").cast("string"),
        lit("&utm_campaign=q&lang="), col("lang")))
      .when(col("doc_id") % 4 === 1, lit("?b=2&a=1&fbclid=xyz&ref=main"))
      .otherwise(lit("")),
    when(col("doc_id") % 6 === 0, lit("#section-2"))
      .when(col("doc_id") % 6 === 3, lit("#/view?sec=2"))
      .otherwise(lit("")))

  /** CTE chain (no WITH prefix) replaying the fixture-URL construction
    * and the full Web.scala parse/normalize grammar in DuckDB —
    * identical RE2-safe regexes, identical tracking-param list, identical
    * default-port / empty-path / fragment rules. Yields `normed` with
    * (doc_id, lang, text, url, scheme, host, port, path, domain,
    * norm_url). */
  private lazy val UrlCtes: String =
    """u AS (SELECT doc_id, lang, text,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
      |    (CASE WHEN doc_id % 7 = 0 THEN 'crawler:pw@' ELSE '' END) ||
      |    'WWW.' || source ||
      |    (CASE WHEN doc_id % 3 = 0 THEN '.Example.CO.UK'
      |             WHEN doc_id % 3 = 1 THEN '.example.com'
      |             ELSE '.News.example.ORG' END) ||
      |    (CASE WHEN doc_id % 5 = 0 THEN ':443'
      |             WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END) ||
      |    '/Articles/' || CAST(doc_id AS VARCHAR) ||
      |    (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&id=' ||
      |          CAST(doc_id AS VARCHAR) || '&utm_campaign=q&lang=' || lang
      |             WHEN doc_id % 4 = 1 THEN '?b=2&a=1&fbclid=xyz&ref=main'
      |             ELSE '' END) ||
      |    (CASE WHEN doc_id % 6 = 0 THEN '#section-2'
      |             WHEN doc_id % 6 = 3 THEN '#/view?sec=2'
      |             ELSE '' END) AS url
      |  FROM documents),
      |pa AS (SELECT doc_id, lang, text, url,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |      AS scheme,
      |    regexp_extract(
      |      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
      |      '(?:.*@)?([^@]*)$', 1) AS hostport
      |  FROM u),
      |pb AS (SELECT *,
      |    lower(regexp_replace(hostport, ':[0-9]*$', '')) AS host,
      |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
      |    regexp_extract(url,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
      |    regexp_extract(url,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://[^?#]*\?([^#]*)', 1) AS q
      |  FROM pa),
      |pc AS (SELECT *,
      |    CASE WHEN regexp_extract(host,
      |        '([^.]+\.(?:co|com|net|org|gov|ac|edu)\.(?:uk|jp|au|nz|br|in|za|kr|id|il|mx|sg|tr|ar))$',
      |        1) <> ''
      |      THEN regexp_extract(host,
      |        '([^.]+\.(?:co|com|net|org|gov|ac|edu)\.(?:uk|jp|au|nz|br|in|za|kr|id|il|mx|sg|tr|ar))$',
      |        1)
      |      WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) <> ''
      |      THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
      |      ELSE host END AS domain,
      |    coalesce(array_to_string(list_sort(list_filter(
      |      string_split(q, '&'),
      |      p -> p <> '' AND NOT regexp_matches(p,
      |        '^(?:utm_[A-Za-z0-9_]+|fbclid|gclid|msclkid|igshid|twclid|mc_cid|mc_eid|ref_src)='))),
      |      '&'), '') AS qn
      |  FROM pb),
      |normed AS (SELECT doc_id, lang, text, url, scheme, host, port, path,
      |    domain,
      |    CASE WHEN scheme = '' THEN NULL
      |      ELSE scheme || '://' || host ||
      |        (CASE WHEN port <> ''
      |                  AND NOT (scheme = 'http' AND port = '80')
      |                  AND NOT (scheme = 'https' AND port = '443')
      |            THEN ':' || port ELSE '' END) ||
      |        (CASE WHEN path = '' THEN '/' ELSE path END) ||
      |        (CASE WHEN qn = '' THEN '' ELSE '?' || qn END)
      |      END AS norm_url
      |  FROM pc)""".stripMargin

  /** q129's oracle: the fixture construction plus the redaction chain,
    * interpolating the IDENTICAL regex constants the op compiles
    * ([[graft.ops.Text.EmailRe]]/[[graft.ops.Text.Ipv4Re]]/
    * [[graft.ops.Text.PhoneRe]] are RE2-safe by contract). DuckDB
    * regexp_replace needs the explicit 'g' flag (Spark replaces all by
    * default). */
  private lazy val PiiSql: String = {
    val e = graft.ops.Text.EmailRe
    val i = graft.ops.Text.Ipv4Re
    val p = graft.ops.Text.PhoneRe
    s"""WITH d2 AS (SELECT doc_id,
       |    text || ' Contact user' || CAST(doc_id AS VARCHAR) ||
       |    '@Mail.Example.com,' ||
       |    ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
       |    CAST(doc_id % 100 AS VARCHAR) || ',' ||
       |    ' call 555 010 ' || CAST(1000 + doc_id % 9000 AS VARCHAR) ||
       |    ', or +1 (555) 010-' || CAST(1000 + doc_id % 9000 AS VARCHAR) ||
       |    ', era 1914-1918.'
       |      AS t
       |  FROM documents),
       |s1 AS (SELECT doc_id,
       |    CAST(len(regexp_extract_all(t, '$e')) AS BIGINT) AS n_emails,
       |    regexp_replace(t, '$e', '<EMAIL>', 'g') AS t1 FROM d2),
       |s2 AS (SELECT doc_id, n_emails,
       |    CAST(len(regexp_extract_all(t1, '$i')) AS BIGINT) AS n_ips,
       |    regexp_replace(t1, '$i', '<IP>', 'g') AS t2 FROM s1),
       |s3 AS (SELECT doc_id, n_emails, n_ips,
       |    CAST(len(regexp_extract_all(t2, '$p')) AS BIGINT) AS n_phones,
       |    regexp_replace(t2, '$p', '<PHONE>', 'g') AS clean_text FROM s2)
       |SELECT doc_id, clean_text, n_emails, n_ips, n_phones
       |FROM s3 ORDER BY doc_id""".stripMargin
  }

  /** q131's oracle: q81's bigram-LM chain (same CTEs, proven green there)
    * joined with each document's language, then the value-based tercile
    * definition replayed with a PLAIN one-level cumulative window — the
    * engine's two-level cum is result-invisible because the thresholds
    * are a pure function of the per-language score multiset. */
  private lazy val PplBucketsSql: String =
    """WITH t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
      |             ELSE regexp_split_to_array(lower(trim(text)), '\s+') END
      |             AS toks
      |           FROM documents),
      |bg AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
      |         FOR i IN generate_series(1, len(toks)-1)]) AS g FROM t),
      |c12 AS (SELECT g, count(*) AS c12 FROM bg GROUP BY 1),
      |ctx AS (SELECT split_part(g, ' ', 1) AS w1, sum(c12) AS c1
      |        FROM c12 GROUP BY 1),
      |v AS (SELECT count(DISTINCT tok) AS v
      |      FROM (SELECT unnest(toks) AS tok FROM t)),
      |lp AS (SELECT doc_id,
      |         CAST(round(-ln((c12 + 1.0) / (c1 + 1.0 * v)), 6)
      |              AS DECIMAL(18,6)) AS lp
      |       FROM bg JOIN c12 USING (g)
      |       JOIN ctx ON ctx.w1 = split_part(g, ' ', 1) CROSS JOIN v),
      |dd AS (SELECT doc_id,
      |         CAST(CAST(sum(lp) * 1000000 AS HUGEINT) // count(*)
      |           AS BIGINT) AS ce_ppm
      |       FROM lp GROUP BY 1),
      |sc AS (SELECT d.doc_id, d.lang, dd.ce_ppm
      |       FROM documents d LEFT JOIN dd USING (doc_id)),
      |hist AS (SELECT lang, ce_ppm AS s, count(*) AS c FROM sc
      |         WHERE ce_ppm IS NOT NULL GROUP BY 1, 2),
      |cum AS (SELECT lang, s,
      |          sum(c) OVER (PARTITION BY lang ORDER BY s
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |          sum(c) OVER (PARTITION BY lang) AS n
      |        FROM hist),
      |th AS (SELECT lang,
      |         min(CASE WHEN cum * 3 >= n * 1 THEN s END) AS t1,
      |         min(CASE WHEN cum * 3 >= n * 2 THEN s END) AS t2
      |       FROM cum GROUP BY 1)
      |SELECT sc.doc_id, sc.lang, sc.ce_ppm,
      |  CASE WHEN sc.ce_ppm IS NULL THEN NULL
      |       ELSE CASE WHEN sc.ce_ppm > t2 THEN 'tail'
      |                 WHEN sc.ce_ppm > t1 THEN 'middle'
      |                 ELSE 'head' END END AS ppl_bucket
      |FROM sc LEFT JOIN th USING (lang)
      |ORDER BY doc_id""".stripMargin

  /** q127's oracle: the parse/normalize replay, one row per document. */
  private lazy val UrlPartsSql: String =
    s"""WITH $UrlCtes
       |SELECT doc_id, url, scheme, host, domain, path, norm_url
       |FROM normed ORDER BY doc_id""".stripMargin

  /** q176/q178 shared fixture: every document wrapped in a page whose
    * anchors exercise each href-resolution rule (absolute, root-relative,
    * scheme-relative, skipped relative/fragment, mailto), plus the page's
    * base URL. Shared so the extraction test and the graph-composition
    * test can never drift. */
  private def linkFixture(s: org.apache.spark.sql.SparkSession,
                          d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      concat(lit("https://ex"), (col("doc_id") % 7).cast("string"),
        lit(".org/a/b?x=1")).as("base"),
      concat(
        lit("<p>Intro <a href=\"https://cdn.ex.com/lib\">CDN</a> "),
        lit("<a href=\"/docs/"), col("doc_id").cast("string"),
        lit("\">Doc &amp; <b>notes</b></a> "),
        lit("<a href=\"//mirror.org/m\">Mirror</a> "),
        lit("<a href=\"rel/path\">relative skipped</a> "),
        when(col("doc_id") % 3 === 0,
          lit("<a href=\"#frag\">frag skipped</a> ")).otherwise(lit("")),
        lit("<a href=\"mailto:ops@ex.org\">mail</a></p>")).as("html"))

  /** [[graft.ops.Web.SecondLevelRe]] for oracle embedding. */
  private lazy val SecondLevelSql: String = graft.ops.Web.SecondLevelRe

  /** CTE chain (no WITH prefix) yielding
    * `r(doc_id, base, pos, link_url, anchor)` — the q176 link-extraction
    * replay (fixture build, href regex, resolution CASE, htmlToText
    * anchor cleanup), shared with q178's graph-composition oracle. */
  private lazy val LinkRowsCtes: String = {
    // SQL-escape the regex for the single-quoted literal it lands in
    // (HrefRe's attribute-delimiter class contains a literal ')
    val re = graft.ops.Html.HrefRe.replace("'", "''")
    def dec(x: String): String =
      s"replace(replace(replace(replace(replace(replace($x," +
        "'&lt;','<'),'&gt;','>'),'&quot;','\"'),'&#39;',chr(39))," +
        "'&nbsp;',' '),'&amp;','&')"
    def strip3(x: String): String =
      s"regexp_replace(regexp_replace(regexp_replace($x," +
        " '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g')," +
        " '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g')," +
        " '(?s)<!--.*?-->', ' ', 'g')"
    def itext(x: String): String =
      s"trim(regexp_replace(${dec(s"regexp_replace(${strip3(x)}, '<[^>]*>', ' ', 'g')")}," +
        " '[ \\t\\r\\n]+', ' ', 'g'))"
    s"""h AS (SELECT doc_id,
       |    'https://ex' || CAST(doc_id % 7 AS VARCHAR) ||
       |      '.org/a/b?x=1' AS base,
       |    '<p>Intro <a href="https://cdn.ex.com/lib">CDN</a> ' ||
       |    '<a href="/docs/' || CAST(doc_id AS VARCHAR) ||
       |      '">Doc &amp; <b>notes</b></a> ' ||
       |    '<a href="//mirror.org/m">Mirror</a> ' ||
       |    '<a href="rel/path">relative skipped</a> ' ||
       |    CASE WHEN doc_id % 3 = 0
       |      THEN '<a href="#frag">frag skipped</a> ' ELSE '' END ||
       |    '<a href="mailto:ops@ex.org">mail</a></p>' AS html
       |  FROM documents),
       |m AS (SELECT doc_id, base,
       |    regexp_extract_all(html, '$re', 1) AS hs,
       |    regexp_extract_all(html, '$re', 2) AS ts
       |  FROM h),
       |e AS (SELECT doc_id, base,
       |    unnest(generate_series(0, len(hs) - 1)) AS pos,
       |    unnest(hs) AS href, unnest(ts) AS t0
       |  FROM m),
       |r AS (SELECT doc_id, base, pos,
       |    CASE WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*:')
       |           THEN href
       |         WHEN href LIKE '//%' THEN regexp_extract(base,
       |           '^([A-Za-z][A-Za-z0-9+.-]*):', 1) || ':' || href
       |         WHEN href LIKE '/%' THEN regexp_extract(base,
       |           '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) || href
       |    END AS link_url,
       |    ${itext("t0")} AS anchor
       |  FROM e)""".stripMargin
  }

  /** q128's oracle: per-domain stats over the non-blocklisted documents. */
  private lazy val DomainStatsSql: String =
    s"""WITH $UrlCtes
       |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
       |  CAST(SUM(length(text)) AS BIGINT) AS n_chars
       |FROM normed WHERE domain NOT IN ('example.org')
       |GROUP BY 1 ORDER BY domain""".stripMargin

  /** q118's oracle: the identical page construction and extraction —
    * same RE2-safe regexes, same single-pass entity decode order, same
    * integer-ppm link-density gate — replayed in DuckDB SQL. */
  /** The q118/q126 fixture page: every document wrapped in a realistic
    * web page (nav links, heading, body copy with an inline anchor, a
    * CONDITIONAL repeated paragraph — df=100 at the 500-doc corpus, so
    * stage 2 of q126 removes it as boilerplate — and a comment +
    * link-dense footer). Shared by both queries so the fixture can never
    * drift between the extraction test and the composition test. */
  private lazy val WebPage: org.apache.spark.sql.Column = concat(
    lit("<html><head><title>Doc</title><style>p{margin:0}</style>" +
      "<script>if(x<1){y=2;}</script></head><body>" +
      "<div class=\"nav\"><a href=\"/\">Home</a> " +
      "<a href=\"/help\">Help &amp; FAQ</a></div>" +
      "<h1>Doc "),
    col("doc_id").cast("string"),
    lit("</h1><p>See <a href=\"/ref\">notes</a>. "),
    col("text"),
    lit("</p>"),
    when(col("doc_id") % 5 === 0,
      lit("<p>Data &amp; query engines both clear the gate when the " +
        "paragraph carries enough body text to count.</p>"))
      .otherwise(lit("")),
    lit("<!-- pixel --><div class=\"footer\">" +
      "<a href=\"/tos\">Terms</a> 2026</div></body></html>"))

  /** CTE chain (no WITH prefix) yielding `content(doc_id, content)` — the
    * q118 extraction replay, shared with q126's composition oracle. */
  private lazy val HtmlContentCtes: String = {
    val blockRe = "(?i)</?(?:p|div|h[1-6]|ul|ol|li|table|thead|tbody|tr" +
      "|td|th|blockquote|pre|section|article|main|header|footer|nav" +
      "|aside|form|fieldset|figure|figcaption|br|hr)\\b[^>]*>"
    // single-pass entity decode, &amp; LAST — mirrors Html.decodeEntities
    def dec(x: String): String =
      s"replace(replace(replace(replace(replace(replace($x," +
        "'&lt;','<'),'&gt;','>'),'&quot;','\"'),'&#39;',chr(39))," +
        "'&nbsp;',' '),'&amp;','&')"
    def itext(x: String): String =
      s"trim(regexp_replace(${dec(s"regexp_replace($x, '<[^>]*>', ' ', 'g')")}," +
        " '[ \\t\\r\\n]+', ' ', 'g'))"
    s"""h AS (SELECT doc_id,
       |    '<html><head><title>Doc</title><style>p{margin:0}</style>' ||
       |    '<script>if(x<1){y=2;}</script></head><body>' ||
       |    '<div class="nav"><a href="/">Home</a> ' ||
       |    '<a href="/help">Help &amp; FAQ</a></div>' ||
       |    '<h1>Doc ' || CAST(doc_id AS VARCHAR) ||
       |    '</h1><p>See <a href="/ref">notes</a>. ' || text || '</p>' ||
       |    CASE WHEN doc_id % 5 = 0 THEN
       |      '<p>Data &amp; query engines both clear the gate when the ' ||
       |      'paragraph carries enough body text to count.</p>'
       |    ELSE '' END ||
       |    '<!-- pixel --><div class="footer">' ||
       |    '<a href="/tos">Terms</a> 2026</div></body></html>' AS html
       |  FROM documents),
       |pre AS (SELECT doc_id,
       |    regexp_replace(regexp_replace(regexp_replace(html,
       |      '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
       |      '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
       |      '(?s)<!--.*?-->', ' ', 'g') AS hh
       |  FROM h),
       |arrs AS (SELECT doc_id,
       |    regexp_split_to_array(hh, '$blockRe') AS arr FROM pre),
       |blocks AS (SELECT doc_id,
       |    unnest(generate_series(1, len(arr))) AS bi,
       |    unnest(arr) AS raw
       |  FROM arrs),
       |scored AS (SELECT doc_id, bi,
       |    ${itext("raw")} AS btext,
       |    ${itext("array_to_string(regexp_extract_all(raw, " +
                "'(?is)<a\\b[^>]*>(.*?)</a>', 1), ' ')")} AS ltext
       |  FROM blocks),
       |kept AS (SELECT doc_id, bi, btext FROM scored
       |  WHERE length(btext) >= 60
       |    -- coalesce: DuckDB's array_to_string over ZERO anchor matches
       |    -- is NULL where Spark's array_join is '' — a linkless block
       |    -- must score 0 ppm, not NULL-drop
       |    AND (1000000 * coalesce(length(ltext), 0))
       |          // greatest(length(btext), 1) <= 300000),
       |content AS (SELECT doc_id,
       |    string_agg(btext, chr(10) ORDER BY bi) AS content
       |  FROM kept GROUP BY doc_id)""".stripMargin
  }

  /** q118's oracle: the identical page construction and extraction —
    * same RE2-safe regexes, same single-pass entity decode order, same
    * integer-ppm link-density gate — replayed in DuckDB SQL. */
  private lazy val HtmlOracleSql: String =
    s"""WITH $HtmlContentCtes
       |SELECT doc_id, content FROM content ORDER BY doc_id""".stripMargin

  /** q126's oracle: the full CCNet-shape chain — [[HtmlContentCtes]]
    * extraction → q120's paragraph-df dedup (minDf=20) → q81's bigram LM
    * fitted on the CLEANED text → q98's temperature rates over the
    * surviving docs' languages — replayed as one CTE chain. */
  private lazy val WebPipelineSql: String =
    s"""WITH $HtmlContentCtes,
       |p AS (SELECT doc_id,
       |        unnest(generate_series(1, len(arr2))) AS pi,
       |        unnest(arr2) AS para
       |      FROM (SELECT doc_id, string_split(content, chr(10)) AS arr2
       |            FROM content)),
       |ph AS (SELECT doc_id, pi, para,
       |         CAST('0x' || substr(md5(para), 1, 15) AS BIGINT) AS ha,
       |         CAST('0x' || substr(md5(para), 17, 15) AS BIGINT) AS hb,
       |         trim(para) = '' AS blank
       |       FROM p),
       |hot AS (SELECT ha, hb FROM ph WHERE NOT blank
       |        GROUP BY ha, hb HAVING COUNT(DISTINCT doc_id) >= 20),
       |keepp AS (SELECT * FROM ph WHERE NOT EXISTS
       |          (SELECT 1 FROM hot
       |           WHERE hot.ha = ph.ha AND hot.hb = ph.hb)),
       |agg AS (SELECT doc_id,
       |          string_agg(para, chr(10) ORDER BY pi) AS clean_text
       |        FROM keepp GROUP BY 1),
       |t AS (SELECT doc_id, CASE WHEN trim(clean_text) = '' THEN []
       |        ELSE regexp_split_to_array(lower(trim(clean_text)), '\\s+') END
       |        AS toks
       |      FROM agg),
       |bg AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
       |         FOR i IN generate_series(1, len(toks)-1)]) AS g FROM t),
       |c12 AS (SELECT g, count(*) AS c12 FROM bg GROUP BY 1),
       |ctx AS (SELECT split_part(g, ' ', 1) AS w1, sum(c12) AS c1
       |        FROM c12 GROUP BY 1),
       |v AS (SELECT count(DISTINCT tok) AS v
       |      FROM (SELECT unnest(toks) AS tok FROM t)),
       |lp AS (SELECT doc_id,
       |         CAST(round(-ln((c12 + 1.0) / (c1 + 1.0 * v)), 6)
       |              AS DECIMAL(18,6)) AS lp
       |       FROM bg JOIN c12 USING (g)
       |       JOIN ctx ON ctx.w1 = split_part(g, ' ', 1) CROSS JOIN v),
       |lm AS (SELECT doc_id, count(*) AS n_bigrams,
       |         CAST(CAST(sum(lp) * 1000000 AS HUGEINT) // count(*)
       |           AS BIGINT) AS ce_ppm
       |       FROM lp GROUP BY 1),
       |docs2 AS (SELECT a.doc_id, d.lang FROM agg a
       |          JOIN documents d USING (doc_id)),
       |c AS (SELECT lang AS s, COUNT(*) AS n FROM docs2 GROUP BY 1),
       |tt AS (SELECT s, n, CAST(round(sqrt(n) * 1000000) AS BIGINT)
       |         AS sppm FROM c),
       |z AS (SELECT SUM(sppm) AS z, SUM(n) AS tot FROM tt),
       |r AS (SELECT s,
       |        LEAST(1000000, CAST(round(((0.3 * CAST(tot AS DOUBLE)) *
       |          (CAST(sppm AS DOUBLE) / CAST(z AS DOUBLE)) /
       |          CAST(n AS DOUBLE)) * 1000000) AS BIGINT)) AS rate_ppm
       |      FROM tt CROSS JOIN z)
       |SELECT d2.doc_id, d2.lang, r.rate_ppm,
       |  CAST(coalesce(lm.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  lm.ce_ppm
       |FROM docs2 d2 JOIN r ON d2.lang = r.s
       |LEFT JOIN lm ON lm.doc_id = d2.doc_id
       |WHERE (CAST('0x' || substr(md5(CAST(d2.doc_id AS VARCHAR)), 1, 15)
       |         AS BIGINT) % 1000000) < r.rate_ppm
       |ORDER BY d2.doc_id""".stripMargin

  /** q110's oracle: the q91 merge-chain replay, symbols flagged OOV when
    * absent from the pinned vocab, aggregated per language. */
  private lazy val OovOracleSql: String = {
    val vocabValues = BpeVocab
      .map { case (sym, tid) => s"('$sym', $tid)" }.mkString(", ")
    s"""WITH t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
       |             ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END
       |             AS toks
       |           FROM documents),
       |w AS (SELECT doc_id, toks[i] AS w
       |      FROM (SELECT doc_id, toks,
       |              unnest(generate_series(1, len(toks))) AS i FROM t)
       |      WHERE toks[i] <> ''),
       |sq AS (SELECT doc_id, $BpeChainSql AS s FROM w),
       |sy AS (SELECT doc_id,
       |         substr(sym, 2, length(sym) - 2) AS sym
       |       FROM (SELECT doc_id, unnest(string_split(s, ' ')) AS sym
       |             FROM sq)),
       |flag AS (SELECT doc_id,
       |           CASE WHEN voc.tid IS NULL THEN 1 ELSE 0 END AS oov
       |         FROM sy LEFT JOIN (VALUES $vocabValues) voc(sym, tid)
       |           USING (sym)),
       |g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS toks,
       |        CAST(SUM(oov) AS BIGINT) AS oov
       |      FROM documents JOIN flag USING (doc_id) GROUP BY 1)
       |SELECT lang, toks, oov, (1000000 * oov) // toks AS oov_ppm
       |FROM g ORDER BY lang""".stripMargin
  }

  /** Pinned BPE merge table: `Export.bpeLearn(documents@sf0.001, "text",
    * 24)` output, in learned order (most frequent pair first). */
  lazy val BpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"), ("l", "u"),
    ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("co", "lu"), ("colu", "m"),
    ("colum", "n"), ("d", "ow"), ("in", "dow"), ("w", "indow"),
    ("d", "er"), ("or", "der"), ("or", "t"), ("s", "ort"))

  /** Pinned BPE vocabulary: `Export.bpeVocab(documents@sf0.001, "text",
    * BpeMerges)` — 24 base chars by frequency, then the 24 merge
    * products in merge order. */
  lazy val BpeVocab: Seq[(String, Long)] = Seq(
    ("a", 0L), ("r", 1L), ("e", 2L), ("t", 3L), ("o", 4L), ("s", 5L),
    ("l", 6L), ("n", 7L), ("u", 8L), ("c", 9L), ("g", 10L), ("i", 11L),
    ("m", 12L), ("w", 13L), ("h", 14L), ("d", 15L), ("p", 16L),
    ("b", 17L), ("v", 18L), ("y", 19L), ("k", 20L), ("f", 21L),
    ("j", 22L), ("q", 23L), ("er", 24L), ("or", 25L), ("in", 26L),
    ("ow", 27L), ("st", 28L), ("lu", 29L), ("ar", 30L), ("par", 31L),
    ("mer", 32L), ("at", 33L), ("an", 34L), ("can", 35L), ("scan", 36L),
    ("co", 37L), ("colu", 38L), ("colum", 39L), ("column", 40L),
    ("dow", 41L), ("indow", 42L), ("window", 43L), ("der", 44L),
    ("order", 45L), ("ort", 46L), ("sort", 47L))

  /** Pinned unigram-LM piece table: `Unigram.unigramFit(documents@sf0.001,
    * "text", 48)` output — 24 whole-word pieces + the 24-char alphabet,
    * ids ranked by (count desc, piece UTF8 asc), scores in micro-log-prob
    * units (round(ln p × 10⁶)). */
  lazy val UnigramPieces: Seq[(String, Long, Long)] = Seq(
    ("a", 0L, -2497894L),
    ("l", 1L, -3199082L),
    ("m", 2L, -3204106L),
    ("s", 3L, -3204106L),
    ("t", 4L, -3205226L),
    ("o", 5L, -3222175L),
    ("r", 6L, -3222175L),
    ("scan", 7L, -3800773L),
    ("column", 8L, -3806890L),
    ("window", 9L, -3808937L),
    ("order", 10L, -3809962L),
    ("sort", 11L, -3810988L),
    ("part", 12L, -3822346L),
    ("agg", 13L, -3832784L),
    ("value", 14L, -3835937L),
    ("line", 15L, -3840157L),
    ("key", 16L, -3841214L),
    ("join", 17L, -3850784L),
    ("merge", 18L, -3851853L),
    ("group", 19L, -3852923L),
    ("query", 20L, -3852923L),
    ("vector", 21L, -3856140L),
    ("d", 22L, -3862606L),
    ("hash", 23L, -3864770L),
    ("slow", 24L, -3866939L),
    ("stream", 25L, -3869113L),
    ("u", 26L, -3870202L),
    ("filter", 27L, -3871292L),
    ("fast", 28L, -3875663L),
    ("batch", 29L, -3878955L),
    ("spark", 30L, -3878955L),
    ("the", 31L, -3878955L),
    ("table", 32L, -3886677L),
    ("b", 33L, -3901178L),
    ("g", 34L, -3901178L),
    ("i", 35L, -3901178L),
    ("c", 36L, -3902302L),
    ("e", 37L, -3902302L),
    ("w", 38L, -3928514L),
    ("p", 39L, -7325104L),
    ("f", 40L, -10692399L),
    ("h", 41L, -10692399L),
    ("j", 42L, -10692399L),
    ("k", 43L, -10692399L),
    ("n", 44L, -10692399L),
    ("q", 45L, -10692399L),
    ("v", 46L, -10692399L),
    ("y", 47L, -10692399L)
  )

  /** q93's DuckDB oracle: full-enumeration Viterbi from the same pinned
    * literals. A recursive CTE extends every partial segmentation of
    * every distinct word by one edge — a vocab piece matching at the
    * position, or the hashed-OOV single-char edge (fixed −20000000 micro
    * score, the kernel's [[graft.plans.UnigramKernel.OovScoreMicro]]) —
    * then the argmax per word is taken under exactly the kernel's total
    * order: score DESC, piece count (= path length / 6) ASC, zero-padded
    * id path ASC. Integer micro scores make the comparison exact. */
  private lazy val UnigramOracleSql: String = {
    val vocabValues = UnigramPieces
      .map { case (p, id, sc) => s"('${p.replace("'", "''")}', $id, $sc)" }
      .mkString(", ")
    val v = UnigramPieces.size
    s"""WITH RECURSIVE
       |t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
       |        ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS toks
       |      FROM documents),
       |w AS (SELECT doc_id, i AS wp, toks[i] AS w
       |      FROM (SELECT doc_id, toks,
       |              unnest(generate_series(1, len(toks))) AS i FROM t)
       |      WHERE toks[i] <> ''),
       |dw AS (SELECT DISTINCT w FROM w),
       |voc AS (SELECT * FROM (VALUES $vocabValues) x(piece, id, score)),
       |posn AS (SELECT w, unnest(generate_series(0, length(w) - 1)) AS pos
       |         FROM dw),
       |edges AS (
       |  SELECT p.w, p.pos, length(v.piece) AS len, v.id, v.score
       |  FROM posn p JOIN voc v
       |    ON v.piece = substr(p.w, CAST(p.pos + 1 AS INT), length(v.piece))
       |  UNION ALL
       |  SELECT p.w, p.pos, 1 AS len,
       |    $v + CAST('0x' || substr(md5(substr(p.w, CAST(p.pos + 1 AS INT), 1)), 1, 15)
       |          AS BIGINT) % 256 AS id,
       |    -20000000 AS score
       |  FROM posn p
       |  WHERE NOT EXISTS (SELECT 1 FROM voc v
       |                    WHERE v.piece = substr(p.w, CAST(p.pos + 1 AS INT), 1))),
       |seg(w, pos, score, path) AS (
       |  SELECT w, CAST(0 AS BIGINT), CAST(0 AS BIGINT), '' FROM dw
       |  UNION ALL
       |  SELECT s.w, s.pos + e.len, s.score + e.score,
       |         s.path || lpad(CAST(e.id AS VARCHAR), 6, '0')
       |  FROM seg s JOIN edges e ON e.w = s.w AND e.pos = s.pos),
       |best AS (
       |  SELECT w, path FROM (
       |    SELECT w, path, row_number() OVER (PARTITION BY w
       |        ORDER BY score DESC, length(path) ASC, path ASC) AS rn
       |    FROM seg WHERE pos = length(w)) WHERE rn = 1),
       |pid AS (
       |  SELECT w, sp, CAST(substr(path, CAST((sp - 1) * 6 + 1 AS INT), 6) AS BIGINT) AS id
       |  FROM (SELECT w, path,
       |          unnest(generate_series(1, length(path) // 6)) AS sp
       |        FROM best)),
       |d AS (SELECT doc_id, count(*) AS n_toks,
       |        array_to_string(list(id ORDER BY wp, sp), ' ') AS input_ids
       |      FROM w JOIN pid USING (w) GROUP BY 1)
       |SELECT doc_id, coalesce(n_toks, 0) AS n_toks,
       |  coalesce(input_ids, '') AS input_ids
       |FROM documents LEFT JOIN d USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** q91's DuckDB oracle, assembled from the pinned literals so the SQL
    * can never disagree with the Spark side's inputs. U = U+001F, the
    * same symbol-boundary marker Export.BpeSep uses; Verify's JSON dump
    * \u-escapes it, so the driver's json.load round-trips it intact. */
  /** DuckDB expression replaying the pinned merge chain over one word
    * column `w`: U+001F-marked initial symbols, then every BpeMerges
    * replace in learned order — shared by q91's and q104's oracles. */
  private lazy val BpeChainSql: String = {
    val U = graft.ops.Export.BpeSep
    val init = s"array_to_string(['$U' || substr(w, i::INT, 1) || '$U' " +
      "FOR i IN generate_series(1, length(w))], ' ')"
    BpeMerges.foldLeft(init) { case (acc, (x, y)) =>
      s"replace($acc, '$U$x$U $U$y$U', '$U$x$y$U')"
    }
  }

  private lazy val BpeOracleSql: String = {
    val chain = BpeChainSql
    val vocabValues = BpeVocab
      .map { case (sym, tid) => s"('$sym', $tid)" }.mkString(", ")
    s"""WITH t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
       |             ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END
       |             AS toks
       |           FROM documents),
       |w AS (SELECT doc_id, i AS wp, toks[i] AS w
       |      FROM (SELECT doc_id, toks,
       |              unnest(generate_series(1, len(toks))) AS i FROM t)
       |      WHERE toks[i] <> ''),
       |sq AS (SELECT doc_id, wp, $chain AS s FROM w),
       |sy AS (SELECT doc_id, wp, j AS sp,
       |         substr(syms[j], 2, length(syms[j]) - 2) AS sym
       |       FROM (SELECT doc_id, wp, syms,
       |               unnest(generate_series(1, len(syms))) AS j
       |             FROM (SELECT doc_id, wp, string_split(s, ' ') AS syms
       |                   FROM sq))),
       |ids AS (SELECT doc_id, wp, sp,
       |          coalesce(tid, ${BpeVocab.size} +
       |            CAST('0x' || substr(md5(sym), 1, 15) AS BIGINT) % 256)
       |            AS id
       |        FROM sy LEFT JOIN (VALUES $vocabValues) voc(sym, tid)
       |          USING (sym)),
       |d AS (SELECT doc_id, count(*) AS n_toks,
       |        array_to_string(list(id ORDER BY wp, sp), ' ') AS input_ids
       |      FROM ids GROUP BY 1)
       |SELECT doc_id, coalesce(n_toks, 0) AS n_toks,
       |  coalesce(input_ids, '') AS input_ids
       |FROM documents LEFT JOIN d USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }
  /** q202's oracle: q196's drift-audit CTEs produce the refreshed
    * centroid set (drifted cells move to their members' exact means),
    * then every vector assigns DIRECTLY against it — the fixed point a
    * refresh+compact cycle must land the stored index on, checked per
    * id (the strongest membership equality). */
  private lazy val IvfCompactSql: String =
    """WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      |w AS (SELECT id, vec, sqrt(list_inner_product(vec, vec)) AS n FROM v),
      |cents AS (SELECT id AS cid, vec AS cvec FROM w WHERE id < 16),
      |assign AS (
      |  SELECT id, cid AS cell FROM (
      |    SELECT c.id, t.cid,
      |      ROW_NUMBER() OVER (PARTITION BY c.id
      |        ORDER BY round(list_inner_product(c.vec, t.cvec) /
      |          (c.n * sqrt(list_inner_product(t.cvec, t.cvec))), 6)
      |                 DESC, t.cid) AS rk
      |    FROM w c, cents t) WHERE rk = 1),
      |mem AS (SELECT cell, vec FROM assign JOIN w USING (id)),
      |dims AS (SELECT cell, unnest(generate_series(1, len(vec))) AS d,
      |           unnest(vec) AS x FROM mem),
      |agg AS (SELECT cell, d, (CASE WHEN sum(CAST(round(x, 6)
      |          AS DECIMAL(38,12))) < 0 THEN -1 ELSE 1 END
      |        * (CAST(abs(sum(CAST(round(x, 6) AS DECIMAL(38,12))))
      |             * 1000000 AS HUGEINT) // count(*))) / 1000000.0 AS c
      |  FROM dims GROUP BY 1, 2),
      |mv AS (SELECT cell, list(c ORDER BY d) AS mv FROM agg GROUP BY 1),
      |rep AS (SELECT mv.cell,
      |    CASE WHEN sqrt(list_inner_product(mv, mv)) <> 0 THEN
      |      1000000 - CAST(floor(round(list_inner_product(mv, cvec) /
      |        (sqrt(list_inner_product(mv, mv)) *
      |         sqrt(list_inner_product(cvec, cvec))), 6) * 1000000.0
      |        + 0.5) AS BIGINT)
      |    END AS drift_ppm, mv
      |  FROM mv JOIN cents ON mv.cell = cents.cid),
      |newc AS (SELECT cents.cid,
      |    CASE WHEN coalesce(rep.drift_ppm > 190000, FALSE)
      |         THEN rep.mv ELSE cents.cvec END AS cvec
      |  FROM cents LEFT JOIN rep ON rep.cell = cents.cid),
      |a2 AS (
      |  SELECT id, cid AS cell FROM (
      |    SELECT c.id, t.cid,
      |      ROW_NUMBER() OVER (PARTITION BY c.id
      |        ORDER BY round(list_inner_product(c.vec, t.cvec) /
      |          (c.n * sqrt(list_inner_product(t.cvec, t.cvec))), 6)
      |                 DESC, t.cid) AS rk
      |    FROM w c, newc t) WHERE rk = 1)
      |SELECT id, CAST(cell AS INT) AS cell FROM a2
      |ORDER BY id""".stripMargin

  /** q203's oracle: the q195 integer-GD chain unrolled ONCE PER CLASS
    * (de/en/fr, binarized labels over one shared hashed-token table),
    * then the serve replayed verbatim — per-class sums from the learned
    * buckets, intercepts from the bucket −1 rows entering as
    * intercept·n, argmax by (score desc, lang asc), signed-ppm
    * publication. */
  private lazy val LangIdFitSql: String = {
    val classes = Seq("de", "en", "fr")
    val epochs = 3
    def chain(c: String): String = {
      val p = c + "_"
      val rounds = (1 to epochs).map { k =>
        val prev = s"${p}w${k - 1}"
        s"""${p}r$k AS (SELECT f.doc_id,
           |    (CAST(sum(CAST(wu AS HUGEINT) * c) AS HUGEINT) // d) - yu AS ru
           |  FROM ${p}f f JOIN $prev USING (bkt) GROUP BY f.doc_id, d, yu),
           |${p}g$k AS (SELECT bkt, sum((CAST(ru AS HUGEINT) * c) // d) AS g
           |  FROM ${p}f f JOIN ${p}r$k USING (doc_id) GROUP BY 1),
           |${p}w$k AS (SELECT w.bkt,
           |    wu - (250000 * (coalesce(g, 0) // (SELECT nd FROM nd)))
           |      // 1000000 AS wu
           |  FROM $prev w LEFT JOIN ${p}g$k USING (bkt))""".stripMargin
      }.mkString(",\n")
      s"""${p}f AS (SELECT doc_id, bkt, c, d,
         |    CAST((2 * (CASE WHEN lang = '$c' THEN 1 ELSE 0 END) - 1)
         |      * 1000000 AS BIGINT) AS yu
         |  FROM cnt JOIN dd0 USING (doc_id)
         |  UNION ALL
         |  SELECT doc_id, CAST(-1 AS BIGINT), d, d,
         |    CAST((2 * (CASE WHEN lang = '$c' THEN 1 ELSE 0 END) - 1)
         |      * 1000000 AS BIGINT)
         |  FROM dd0),
         |${p}w0 AS (SELECT DISTINCT bkt, CAST(0 AS HUGEINT) AS wu
         |  FROM ${p}f),
         |$rounds""".stripMargin
    }
    def serveClass(c: String): String = {
      val p = c + "_"
      s"""SELECT n.doc_id, '$c' AS lang,
         |    coalesce(sm.sw, 0) +
         |      (SELECT wu FROM ${p}w$epochs WHERE bkt = -1) * n.n_toks AS sc
         |  FROM na n LEFT JOIN (
         |    SELECT doc_id, sum(wu) AS sw FROM sa JOIN ${p}w$epochs
         |    USING (bkt) WHERE bkt >= 0 GROUP BY 1) sm USING (doc_id)"""
        .stripMargin
    }
    s"""WITH t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
       |    ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS toks,
       |    lang FROM documents),
       |tf AS (SELECT doc_id, toks, lang FROM t
       |       WHERE lang IN ('de', 'en', 'fr')),
       |s AS (SELECT doc_id,
       |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 512 AS bkt
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tf) WHERE tok <> ''),
       |cnt AS (SELECT doc_id, bkt, count(*) AS c FROM s GROUP BY 1, 2),
       |ndoc AS (SELECT doc_id, count(*) AS n FROM s GROUP BY 1),
       |dd0 AS (SELECT tf.doc_id, tf.lang,
       |    greatest(coalesce(n.n, 0), 1) AS d
       |  FROM tf LEFT JOIN ndoc n USING (doc_id)),
       |nd AS (SELECT count(*) AS nd FROM dd0),
       |${classes.map(chain).mkString(",\n")},
       |sa AS (SELECT doc_id,
       |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 512 AS bkt
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) WHERE tok <> ''),
       |na AS (SELECT doc_id, count(*) AS n_toks FROM sa GROUP BY 1),
       |cl AS (${classes.map(serveClass).mkString("\n  UNION ALL\n")}),
       |best AS (SELECT doc_id, lang, sc, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY sc DESC, lang) AS rk FROM cl)
       |SELECT d.doc_id, coalesce(na.n_toks, 0) AS n_toks, b.lang,
       |  CASE WHEN na.n_toks > 0 THEN
       |    CAST((CASE WHEN b.sc < 0 THEN -1 ELSE 1 END)
       |      * (abs(b.sc) // na.n_toks) AS BIGINT) END AS score_ppm
       |FROM documents d LEFT JOIN na USING (doc_id)
       |LEFT JOIN (SELECT doc_id, lang, sc FROM best WHERE rk = 1) b
       |  USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }
}
