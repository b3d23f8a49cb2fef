package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.queries.{SharedFrames, Tables}

/** The shared closure frames (r20) must be RESULT-IDENTICAL to the inline
  * builds they replace — the storage round trip and the memo are allowed
  * to change plans and cost, never content. */
class SharedFramesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("lexPairs / lexClusters == the inline pair build + closure, " +
      "bit-for-bit, and repeated calls serve the same content") {
    val docs = Tables.documents(spark, sf)
    val inlinePairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 8, threshold = 0.8)
    val inlineAssign = Dedup.dedupAssign(docs.select(col("doc_id")),
      "doc_id", inlinePairs)

    val sharedPairs = SharedFrames.lexPairs(spark, sf)
    assert(sharedPairs.columns.toSeq == inlinePairs.columns.toSeq)
    assert(sharedPairs.exceptAll(inlinePairs).isEmpty &&
      inlinePairs.exceptAll(sharedPairs).isEmpty)

    val sharedAssign = SharedFrames.lexClusters(spark, sf)
    assert(sharedAssign.columns.toSeq == inlineAssign.columns.toSeq)
    assert(sharedAssign.exceptAll(inlineAssign).isEmpty &&
      inlineAssign.exceptAll(sharedAssign).isEmpty)

    // memo hit: the second call returns the same frame (content equality
    // is the observable contract; the build ran once per key by
    // construction of computeIfAbsent)
    val again = SharedFrames.lexClusters(spark, sf)
    assert(again.exceptAll(sharedAssign).isEmpty)

    // library cache contract: this spec's INLINE builds registered
    // handles; drain them so later suites' registry-delta assertions
    // (TextFunctionsSpec) see a clean slate. The shared-frame builds
    // drain their own at materialization time.
    Dedup.releaseCaches()
  }

  test("semCells == the inline frozen-quantizer assignment") {
    val emb = Tables.embeddings(spark, sf).select(
      col("vec_id").as("id"),
      transform(col("embedding"), _.cast("double")).as("vec"))
    val cents = emb.where(col("id") < 16).orderBy(col("id")).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq
    val inline = graft.ops.Similarity.ivfIndex(emb, cents)
      .select(col("id"), col("_cell"))
    val shared = SharedFrames.semCells(spark, sf)
    assert(shared.columns.toSeq == inline.columns.toSeq)
    assert(shared.exceptAll(inline).isEmpty && inline.exceptAll(shared).isEmpty)
  }

  test("the frozen quantizer collects within its budget and fails loudly " +
      "over it") {
    val cents = SharedFrames.hardNegCents(spark, sf)
    assert(cents.map(_._1) == (0 until 16))
    assert(cents.forall(_._2.length == 64))
    val e = intercept[IllegalStateException](
      graft.core.Caches.overBudget(SharedFrames.hardNegCents(spark, sf)))
    assert(e.getMessage.contains("driver budget of 32 rows"))
  }

  // ── round-20 frames: each must equal the inline build it replaced ──────

  private def assertSame(shared: org.apache.spark.sql.DataFrame,
                         inline: org.apache.spark.sql.DataFrame): Unit = {
    assert(shared.columns.toSeq == inline.columns.toSeq)
    assert(shared.exceptAll(inline).isEmpty && inline.exceptAll(shared).isEmpty)
  }

  test("custSuppEdges == the inline lineitem⋈orders weighted edge build") {
    val inline = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(
        concat(lit("c"), col("o_custkey").cast("string")).as("src"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
      .agg(count(lit(1)).as("w"))
    assertSame(SharedFrames.custSuppEdges(spark, sf), inline)
  }

  test("coPurchase == the canonical undirected co-purchase edge set, and " +
      "coPurchaseW2 == the live repeat-co-purchase definition") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"),
        col("l_partkey").cast("string").as("pk"))
      .distinct()
    val inlineUnd = li.as("a")
      .join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .distinct()
    assertSame(SharedFrames.coPurchase(spark, sf), inlineUnd)
    assertSame(SharedFrames.coPurchaseW2(spark, sf),
      graft.queries.AnalyticsQueries.coPurchaseW2(spark, sf))
  }

  test("containPairs == the inline containment pair build") {
    val inline = Dedup.containmentPairs(Tables.documents(spark, sf),
      "doc_id", "text", shingleN = 8, threshold = 0.9)
    assertSame(SharedFrames.containPairs(spark, sf), inline)
    Dedup.releaseCaches()
  }

  test("srpClusters == the inline SRP pair closure (q58's assignment)") {
    val emb = Tables.embeddings(spark, sf)
      .where(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
    val pairs = graft.ops.Similarity.srpNearDupPairs(emb, dim = 64,
      planesPerTable = 4, tables = 8, threshold = 0.35)
    val inline = Dedup.dedupAssign(
        emb.select(col("id").as("vec_id")), "vec_id", pairs, "id_a", "id_b")
      .select(col("vec_id"), col("cluster_id"))
    assertSame(SharedFrames.srpClusters(spark, sf), inline)
    Dedup.releaseCaches()
  }

  test("hardNegBooks / hardNegPqIndex == the inline fit + index build " +
      "(frozen quantizer, stored layout)") {
    val emb = Tables.embeddings(spark, sf)
      .where(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
    val cents = emb.where(col("id") < 32).orderBy(col("id")).collect()
      .map(r => (r.getLong(0).toInt / 2, r.getSeq[Double](1))).toSeq
    assert(SharedFrames.hardNegCents(spark, sf) == cents)
    val books = graft.ops.Similarity.pqFitCodebooks(emb, dim = 64, m = 32,
      ksub = 16, iters = 2, maxSample = 4096)
    assert(graft.ops.Similarity.pqCodebooksFrom(
      SharedFrames.hardNegBooks(spark, sf)) == books)
    val inlineIdx = graft.ops.Similarity.pqIndex(
      graft.ops.Similarity.ivfIndex(emb, cents), dim = 64, m = 32, books)
    val shared = SharedFrames.hardNegPqIndex(spark, sf)
      .select("id", "_cell", "_n", "_codes") // partition col reads back last
    assert(shared.exceptAll(inlineIdx.select("id", "_cell", "_n", "_codes"))
      .isEmpty &&
      inlineIdx.select("id", "_cell", "_n", "_codes").exceptAll(shared)
        .isEmpty)
  }

  test("corpusClusters == the inline %10≠0 corpus pair build + closure") {
    val corpus = Tables.documents(spark, sf).where(col("doc_id") % 10 =!= 0)
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleN = 8, threshold = 0.8)
    val inline = Dedup.dedupAssign(corpus.select(col("doc_id")), "doc_id",
        pairs)
      .select(col("doc_id"), col("cluster_id"))
    assertSame(SharedFrames.corpusClusters(spark, sf), inline)
    Dedup.releaseCaches()
  }

  test("corpusSignatures == the inline corpus MinHash signature build, " +
      "and delta pairs against the stored table == the re-shingling path") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val batch = docs.where(col("doc_id") % 10 === 0)
    val inline = Dedup.minHashSignatures(corpus, "doc_id", "text",
      shingleN = 8, k = 64)
    assertSame(SharedFrames.corpusSignatures(spark, sf), inline)
    // the q143 recurring path: batch vs STORED signatures must produce the
    // exact pair set the corpus re-shingling path produced
    val viaStored = Dedup.minHashLshPairsAgainstSignatures(batch,
      SharedFrames.corpusSignatures(spark, sf), "doc_id", "text",
      shingleN = 8, k = 64, bands = 16, rows = 4, threshold = 0.8)
    val viaText = Dedup.minHashLshPairsAgainst(batch, corpus,
      "doc_id", "text", shingleN = 8, k = 64, bands = 16, rows = 4,
      threshold = 0.8)
    assertSame(viaStored, viaText)
    Dedup.releaseCaches()
  }
}
