package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Multimodal, Similarity}

/** Multimodal-column and embedding-similarity operator coverage. The
  * `documents.text` payload stands in for a media blob (cast to BINARY —
  * the pipelines are byte-oriented and identical for real media), so even
  * the mapPartitions decoder tier gets a DuckDB oracle: the stub features
  * are pure byte functions both engines can compute. */
object MultimodalQueries {

  /** q39's oracle pair set (no trailing ORDER BY) — the SRP planes are plan
    * literals, so the SQL embeds the same constants and replays banding +
    * exact cosine verification identically. Shared by q39 (pairs) and q58
    * (pairs → recursive-CTE closure → cluster assignment). */
  private val EmbeddingPairsSql: String = {
    val k = 4; val tables = 8
    val planes = Similarity.srpPlanes(dim = 64, nPlanes = k * tables)
    val sig = planes.zipWithIndex.map { case (p, i) =>
      val lits = p.map(_.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_inner_product(e, $lits) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n     + ")
    s"""WITH v AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e
       |  FROM embeddings WHERE vec_id % 2 = 0),
       |s AS (
       |  SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS n,
       |    $sig AS sig
       |  FROM v),
       |banded AS (
       |  SELECT vec_id, t,
       |    (sig >> CAST(t * $k AS INT)) & ${(1L << k) - 1} AS bkt
       |  FROM s CROSS JOIN range($tables) AS r(t)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM banded a JOIN banded b ON a.t = b.t AND a.bkt = b.bkt
       |  WHERE a.vec_id < b.vec_id)
       |SELECT id_a, id_b,
       |  round(list_inner_product(x.e, y.e) / (x.n * y.n), 6) AS cos_sim
       |FROM cand
       |JOIN s x ON x.vec_id = id_a
       |JOIN s y ON y.vec_id = id_b
       |WHERE round(list_inner_product(x.e, y.e) / (x.n * y.n), 6) >= 0.35""".stripMargin
  }

  /** `pairs`, the [[EmbeddingPairsSql]] pair set, and its SemDeDup
    * closure `comp(vec_id, cluster_id)` — CTE text (no WITH prefix)
    * shared by q58 and q123. Singletons are absent (callers COALESCE to
    * the id itself). */
  private val ClusterClosureCtes: String =
    s"pairs AS ($EmbeddingPairsSql),\n" +
      OracleSql.closureCtes("pairs", "id_a", "id_b", "vec_id")

  /** q123/q124's shared oracle: brute-force cluster-excluded top-5 mining
    * (planes → closure → exclusion → ranking replayed end to end). q124
    * serves the SAME answer from the persisted PQ index, so the two
    * queries pin one SQL — the index may change who pays the exact
    * re-rank join, never the result. */
  private val HardNegativesSql: String =
    s"""WITH RECURSIVE $ClusterClosureCtes,
       |d AS (SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0),
       |cm AS (SELECT d.vec_id, COALESCE(c.cluster_id, d.vec_id) AS cid
       |       FROM d LEFT JOIN comp c USING (vec_id)),
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS e2,
       |        sqrt(list_inner_product(embedding::DOUBLE[],
       |                                embedding::DOUBLE[])) AS n
       |      FROM embeddings WHERE vec_id % 2 = 0),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS negative_id,
       |    round(list_inner_product(q.e2, c.e2) / (q.n * c.n), 6) AS sim
       |  FROM v q JOIN v c ON q.vec_id <> c.vec_id
       |  JOIN cm qc ON qc.vec_id = q.vec_id
       |  JOIN cm cc ON cc.vec_id = c.vec_id
       |  WHERE q.vec_id % 10 = 0 AND qc.cid <> cc.cid),
       |ranked AS (SELECT query_id, negative_id, sim,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, negative_id) AS rank
       |  FROM scored)
       |SELECT query_id, negative_id, sim, CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** The SemDeDup cluster table (SRP pairs → connected components) both
    * hard-negative queries exclude against — q58's assignment. Since r20
    * it is SERVED from the shared frame ([[SharedFrames.srpClusters]]):
    * q58 keeps building the closure live (it IS q58's deliverable), the
    * two mining queries read the stored table — reuse now happens through
    * storage, so the mined-against clusters still can never diverge
    * between q123 and q124. */
  private def hardNegClusters(s: org.apache.spark.sql.SparkSession,
                              d: String) = SharedFrames.srpClusters(s, d)

  val all: Seq[QueryDef] = Seq(

    // ── expression tier: metadata + frame sampling over a binary column ──
    QueryDef("q37_blob_frames",
      """WITH s AS (
        |  SELECT doc_id, text,
        |         greatest(length(text) // 4, 1) AS stride
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS fp,
        |  to_base64(encode(substr(text, 0*stride + 1, 8))) AS frame0,
        |  to_base64(encode(substr(text, 1*stride + 1, 8))) AS frame1,
        |  to_base64(encode(substr(text, 2*stride + 1, 8))) AS frame2,
        |  to_base64(encode(substr(text, 3*stride + 1, 8))) AS frame3
        |FROM s
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val blob = col("text").cast("binary")
      val stride = greatest(floor(length(blob) / 4), lit(1)).cast("int")
      def frame(i: Int) =
        base64(blob.substr(lit(i) * stride + lit(1), lit(8))).as(s"frame$i")
      Tables.documents(s, d).select(
          col("doc_id"),
          length(blob).cast("long").as("n_bytes"),
          md5(blob).as("fp"),
          frame(0), frame(1), frame(2), frame(3))
        .orderBy(col("doc_id"))
    },

    // ── decoder tier: mapPartitions stub decode, oracle-checked because
    //    the stub features are deterministic byte functions ──
    QueryDef("q38_media_decode",
      """SELECT doc_id AS media_id, 'text/plain' AS mime,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  16 * (ascii(substr(text, 1, 1)) + 1) AS width,
        |  16 * (ascii(substr(text, 2, 1)) + 1) AS height,
        |  1 + ascii(substr(text, 3, 1)) % 4 AS channels,
        |  md5(text) AS fingerprint
        |FROM documents
        |ORDER BY media_id""".stripMargin) { (s, d) =>
      implicit val spark: org.apache.spark.sql.SparkSession = s
      val docs = Tables.documents(s, d)
        .withColumn("blob", col("text").cast("binary"))
      Multimodal.decodeFeaturesDf(docs, "doc_id", "blob", "text/plain")
        .select(col("mediaId").as("media_id"), col("mime"),
          col("nBytes").as("n_bytes"), col("width"), col("height"),
          col("channels"), col("fingerprint"))
        .orderBy(col("media_id"))
    },

    // ── embedding near-dup pairs through the bucketed multi-table SRP
    //    path (the 100 TB formulation — no all-pairs join; the exact
    //    cosineNearDupPairs stays library-side as the sampled verifier).
    //    The SRP planes are plan literals, so the oracle embeds the same
    //    constants and replays banding + verification exactly. ──
    QueryDef("q39_embedding_neardup",
      EmbeddingPairsSql + "\nORDER BY id_a, id_b") { (s, d) =>
      val emb = SharedFrames.embOdd(s, d, evenOnly = true)
      Similarity.srpNearDupPairs(emb, dim = 64, planesPerTable = 4,
          tables = 8, threshold = 0.35)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ── semantic dedup end-to-end (the SemDeDup shape — Abbas et al. 2023):
    //    embedding near-dup pairs → connected components → one canonical
    //    keeper per semantic cluster. Same SRP pair graph as q39, closure
    //    replayed in the oracle as a recursive CTE. ──
    QueryDef("q58_semantic_dedup",
      s"""WITH RECURSIVE $ClusterClosureCtes
         |SELECT d.vec_id,
         |       COALESCE(c.cluster_id, d.vec_id) AS cluster_id,
         |       CAST(COALESCE(c.cluster_id, d.vec_id) = d.vec_id AS INT) AS keep
         |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0) d
         |LEFT JOIN comp c USING (vec_id)
         |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = SharedFrames.embOdd(s, d, evenOnly = true)
      val pairs = Similarity.srpNearDupPairs(emb, dim = 64, planesPerTable = 4,
        tables = 8, threshold = 0.35)
      graft.ops.Dedup.dedupAssign(
          emb.select(col("id").as("vec_id")), "vec_id", pairs, "id_a", "id_b")
        .orderBy("vec_id")
    },

    // ── q123: contrastive hard-negative mining — the training-pair
    //    generator for retrieval/embedding models: per query, the top-5
    //    most-similar corpus items EXCLUDING the query's own near-dup
    //    cluster (a near-dup labeled "negative" is a false negative that
    //    poisons the contrastive objective). Composes the SemDeDup
    //    cluster table (q58's SRP pairs → closure) with brute-force
    //    cosine ranking; the oracle replays planes, closure, exclusion
    //    and ranking end to end. ──
    QueryDef("q123_hard_negatives", HardNegativesSql) { (s, d) =>
      val emb = SharedFrames.embOdd(s, d, evenOnly = true)
      Similarity.hardNegatives(emb.where(col("id") % 10 === 0), emb,
          hardNegClusters(s, d), "vec_id", "cluster_id", k = 5)
        .orderBy("query_id", "rank")
    },

    // ── q124: hard-negative mining SERVED FROM the persisted PQ index —
    //    the scale form of q123: the cluster-exclusion predicate composes
    //    with the ADC serving path BEFORE the shortlist cut (an excluded
    //    near-dup can never consume rerank budget), candidates come from
    //    the probed cells' code rows, survivors are exact-re-ranked. With
    //    the q92 probe/rerank margins the result must equal q123's
    //    brute-force mining EXACTLY, so the oracle is the identical SQL —
    //    the index changes who pays the exact join, never the answer. ──
    QueryDef("q124_hard_negatives_indexed", HardNegativesSql) { (s, d) =>
      val emb = SharedFrames.embOdd(s, d, evenOnly = true)
      // r20: fit + index build come from the shared frames — "served FROM
      // the persisted PQ index" now means exactly that (the q73/q92-phase
      // fit-once/serve-many split): the timed body is the cluster-aware
      // ADC shortlist + exact re-rank. Quantizer, codebooks and index are
      // deterministic per fixture, so the served answer is unchanged —
      // and must still equal q123's brute-force mining (same oracle SQL).
      val cents = SharedFrames.hardNegCents(s, d)
      val books = Similarity.pqCodebooksFrom(SharedFrames.hardNegBooks(s, d))
      Similarity.hardNegativesAgainstIndex(emb.where(col("id") % 10 === 0),
          SharedFrames.hardNegPqIndex(s, d), emb, cents, books,
          dim = 64, m = 32, nprobe = 16, rerank = 80, k = 5,
          hardNegClusters(s, d), "vec_id", "cluster_id")
        .orderBy("query_id", "rank")
    },

    // ── media near-dup: dHash-style perceptual signature (decoder tier —
    //    65 evenly-spaced byte samples standing in for a decoded 9×8 luma
    //    grid, bit k = gradient direction) + the SimHash 16-bit-chunk
    //    Hamming banding. The media table is documents ∪ a same-length
    //    single-byte "re-encode" of each doc (byte 11 overwritten), which
    //    perturbs at most two of the 65 samples — every original/variant
    //    pair lands within Hamming ≤ 3 BY CONSTRUCTION while distinct docs
    //    stay ≥ 13 apart (measured), so recall and precision are both
    //    exercised. Oracle replays the signature bit-for-bit (bit 63 is
    //    the sign bit: DuckDB's BIGINT << overflows at 63, so it sums the
    //    signed value -2⁶³ instead — same two's-complement result). ──
    QueryDef("q72_media_neardup",
      """WITH media AS (
        |  SELECT doc_id AS media_id, text AS payload FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS media_id,
        |         substr(text, 1, 10) || 'X' || substr(text, 12) AS payload
        |  FROM documents),
        |m AS (SELECT media_id, payload,
        |        octet_length(encode(payload)) AS n FROM media),
        |s AS (
        |  SELECT media_id, k,
        |    ascii(substr(payload, CAST(1 + (k * (n - 1)) // 64 AS INT), 1)) AS v
        |  FROM m CROSS JOIN range(65) AS r(k)),
        |p AS (SELECT media_id, k, v,
        |        lead(v) OVER (PARTITION BY media_id ORDER BY k) AS v2 FROM s),
        |sig AS (
        |  SELECT media_id,
        |    CAST(COALESCE(SUM(CASE WHEN v2 > v THEN
        |        CASE WHEN k = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
        |             ELSE CAST(CAST(1 AS BIGINT) << CAST(k AS INT) AS HUGEINT) END
        |      ELSE CAST(0 AS HUGEINT) END), 0) AS BIGINT) AS sig
        |  FROM p WHERE k < 64 GROUP BY media_id)
        |SELECT a.media_id AS doc_a, b.media_id AS doc_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      implicit val spark: org.apache.spark.sql.SparkSession = s
      val docs = Tables.documents(s, d)
      val media = docs.select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("payload"))
        .unionByName(docs.select((col("doc_id") + 100000).as("media_id"),
          concat(substring(col("text"), 1, 10), lit("X"),
            substring(col("text"), 12, 1000000)).cast("binary").as("payload")))
      Multimodal.perceptualHashPairs(media, "media_id", "payload", maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b"))
    }
  )
}
