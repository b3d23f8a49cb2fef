package graft.queries

/** Oracle SQL fragments that several declared queries replay, each kept in
  * one place: the tokenizer, the connected-component closure and the
  * frozen IVF quantizer. Every fragment is CTE text without the WITH
  * prefix, laid out exactly as the copies it replaced, so composing one
  * leaves each oracle's text unchanged. */
private[queries] object OracleSql {

  /** Head of the tokenize CTE `t`: `doc_id` and the tokens of
    * `documents.text` — the trimmed, lower-cased (when `lower`) text split
    * on whitespace runs, and no tokens for a blank text. `elseIndent`
    * lays out the ELSE line; the caller names the column and closes the
    * CTE. */
  def toksHead(elseIndent: Int, lower: Boolean = true): String = {
    val text = if (lower) "lower(trim(text))" else "trim(text)"
    s"""t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
       |${" " * elseIndent}ELSE regexp_split_to_array($text, '\\s+') END""".stripMargin
  }

  /** The tokenize CTE `t(doc_id, toks)` over every document. */
  val TokCte: String =
    s"""${toksHead(13)}
       |             AS toks
       |           FROM documents)""".stripMargin

  /** [[TokCte]], then `s(doc_id, <bucket>)`: one row per non-empty token,
    * its md5 hash bucket in [0, buckets) — the hashed feature space of the
    * classifier and importance-weight oracles. */
  def tokBucketCtes(buckets: Int, bucket: String = "bkt"): String =
    s"""$TokCte,
       |s AS (SELECT doc_id,
       |        CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % $buckets AS $bucket
       |      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
       |      WHERE tok <> '')""".stripMargin

  /** Connected components of the undirected graph whose edges are the
    * rows (`a`, `b`) of the CTE `pairs`: the symmetric edges `e`, the
    * recursive `reach` and `comp(<id>, <cluster>)`, each node's
    * cluster being the smallest node it reaches. Only nodes with an edge
    * appear; callers COALESCE the rest to their own id. The query needs
    * WITH RECURSIVE. */
  def closureCtes(pairs: String, a: String, b: String, id: String,
                  cluster: String = "cluster_id"): String =
    s"""e AS (SELECT $a AS u, $b AS v FROM $pairs
       |      UNION SELECT $b, $a FROM $pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM e
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
       |comp AS (SELECT u AS $id, LEAST(u, MIN(v)) AS $cluster
       |         FROM reach GROUP BY u)""".stripMargin

  /** The embeddings as `v(id, vec)` and with their norms as
    * `w(id, vec, n)`. */
  val EmbNormCtes: String =
    """v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings),
      |w AS (SELECT id, vec, sqrt(list_inner_product(vec, vec)) AS n FROM v)""".stripMargin

  /** [[EmbNormCtes]], then the frozen coarse quantizer
    * `cents(cid, cvec, cn)`: the 16 lowest-id vectors with their norms
    * (`SharedFrames.frozenCents` on the Spark side). */
  val FrozenCentsCtes: String =
    s"""$EmbNormCtes,
       |cents AS (SELECT id AS cid, vec AS cvec, n AS cn FROM w WHERE id < 16)""".stripMargin

  /** [[FrozenCentsCtes]], then `assign(id, cell)`: each vector's nearest
    * centroid by rounded cosine, ties to the lower cid — the IVF index's
    * inverted lists. */
  val IvfAssignCtes: String =
    s"""$FrozenCentsCtes,
       |assign AS (
       |  SELECT id, cid AS cell FROM (
       |    SELECT c.id, t.cid,
       |      ROW_NUMBER() OVER (PARTITION BY c.id
       |        ORDER BY round(list_inner_product(c.vec, t.cvec) / (c.n * t.cn), 6)
       |                 DESC, t.cid) AS rk
       |    FROM w c, cents t) WHERE rk = 1)""".stripMargin
}
