package graft

import graft.ops.Dedup
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** Dedup operator specs: exact/LSH/prefix-filter paths must agree with each
  * other and with hand-computed Jaccard on small corpora. */
class DedupSpec extends SparkSpec {

  // Two near-identical docs (one char changed), one unrelated.
  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dot again and again"),
      (3L, "completely different content with nothing shared whatsoever xyz"))
      .toDF("doc_id", "text")
  }

  test("shingles: distinct n-char windows; short text -> whole text") {
    val out = evalStr("abcd", TextFunctions.shingles(_, 3))
      .asInstanceOf[scala.collection.Seq[String]]
    assert(out.toSet == Set("abc", "bcd"))
    assert(evalStr("ab", TextFunctions.shingles(_, 3))
      .asInstanceOf[scala.collection.Seq[String]].toSeq == Seq("ab"))
  }

  test("ngramJaccardPairs (prefix filter) finds exactly the near-dup pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleN = 8, threshold = 0.5)
      .collect()
    assert(pairs.length == 1)
    val p = pairs(0)
    assert(p.getLong(0) == 1L && p.getLong(1) == 2L)
    assert(p.getDouble(2) > 0.5 && p.getDouble(2) < 1.0)
  }

  test("connectedComponents: chains, duplicates, reversed and self edges") {
    import spark.implicits._
    // A 10-long chain (diameter stress — label propagation would need 10
    // rounds; star rounds close it in O(log²)), a triangle overlapping the
    // chain's ids nowhere, plus noise: duplicate, reversed, self edges.
    val edges = (1L to 9L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (22L, 20L), (21L, 20L), (7L, 7L), (3L, 2L))
    // Both the driver fast path (default) and the distributed star loop
    // (localThreshold = 0) must produce the identical component map.
    for (thresh <- Seq(1L << 20, 0L)) {
      val comp = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b",
          localThreshold = thresh)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 10L).forall(comp(_) == 1L), s"thresh=$thresh")
      assert(Seq(20L, 21L, 22L).forall(comp(_) == 20L), s"thresh=$thresh")
      assert(comp.size == 13, s"thresh=$thresh")
    }
  }

  test("connectedComponents matches union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 40
      val edges = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // Brute-force union-find oracle.
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) => val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(ra max rb) = ra min rb }
      val want = edges.flatMap(e => if (e._1 == e._2) Nil else Seq(e._1, e._2)).distinct
        .map(v => v -> {
          // component min = smallest node sharing v's root
          val r = find(v.toInt)
          (0 until n).filter(find(_) == r).min.toLong
        }).toMap
      // Force the DISTRIBUTED star loop (localThreshold = 0): the driver
      // fast path IS a union-find, so testing it against one proves little.
      val got = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b",
          localThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial: $got vs $want")
    }
  }

  test("connectedComponents scale smoke: 50k-node chain graph, distributed path") {
    import org.apache.spark.sql.functions._
    // 780 chains of 64 nodes: component(v) = v - v % 64. Chain graphs are
    // the adversarial case (diameter 63); the star loop must close them in
    // O(log²) rounds, far under maxIter.
    val n = 50000L
    val edges = spark.range(0, n, 1, 8)
      .where(col("id") % 64 =!= 63 && col("id") + 1 < n)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val comp = Dedup.connectedComponents(edges, "a", "b", localThreshold = 0L)
    val bad = comp
      .withColumn("want", col("id") - col("id") % 64)
      .where(col("component") =!= col("want"))
      .count()
    assert(bad == 0L)
    assert(comp.count() == n) // every chain node got a component
    // Per-round edge RDDs are unpersisted as the loop advances (the r7
    // advice leak: df.rdd built a FRESH deserializer RDD, so unpersisting
    // it was a no-op and every round's blocks lived to session end). Only
    // the FINAL round's materialized edge set may remain.
    val persistedAfter = spark.sparkContext.getPersistentRDDs.size
    assert(persistedAfter - persistedBefore <= 1,
      s"CC leaked per-round RDDs: $persistedBefore -> $persistedAfter")
  }

  test("connectedComponents fails loudly when the round budget is too small") {
    import spark.implicits._
    val chain = (1L to 30L).sliding(2).map(s => (s.head, s.last)).toSeq
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain.toDF("a", "b"), "a", "b",
        maxIter = 1, localThreshold = 0L).collect()
    }
  }

  test("dedupAssign: one canonical keeper per cluster, singletons keep") {
    import spark.implicits._
    val docs = (1L to 6L).toDF("doc_id")
    val pairs = Seq((2L, 3L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = Dedup.dedupAssign(docs, "doc_id", pairs)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq(
      (1L, 1L, 1), (2L, 2L, 1), (3L, 2L, 0), (4L, 2L, 0), (5L, 5L, 1), (6L, 5L, 0)))
    // Exactly one keeper per cluster, and pair-drop over-deletion does not
    // happen: doc 4 (only ever a doc_b) is dropped here because it genuinely
    // chains to 2 — but a doc appearing only as doc_b of a FALSE chain is
    // judged by its component, not by pair membership.
    val keepers = out.filter(_._3 == 1).map(_._2)
    assert(keepers.toSet == out.map(_._2).toSet)
  }

  test("dedupKeepBest: highest-priority member kept, ties by smallest id") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Cluster {2,3,4} (chain), cluster {5,6}; 1 is a singleton. Quality:
    // doc 4 is the longest of its cluster -> keeper despite largest id;
    // 5 and 6 tie -> smallest id (5) wins.
    val docs = Seq((1L, 10L), (2L, 5L), (3L, 7L), (4L, 9L), (5L, 4L), (6L, 4L))
      .toDF("doc_id", "quality")
    val pairs = Seq((2L, 3L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = Dedup.dedupKeepBest(docs, "doc_id", pairs, col("quality"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, 1), (2L, 2L, 0), (3L, 2L, 0), (4L, 2L, 1),
      (5L, 5L, 1), (6L, 5L, 0)))
  }

  test("containmentPairs plans as hash joins — no nested loop, no cartesian") {
    import spark.implicits._
    val docs = Seq((1L, "abcdefghijklmnop"), (2L, "abcdefgh"))
      .toDF("doc_id", "text")
    val plan = Dedup.containmentPairs(docs, "doc_id", "text",
      shingleN = 8, threshold = 0.9).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(600))
  }

  test("containmentPairs finds truncated shards that Jaccard misses") {
    import spark.implicits._
    val long = ("the quick brown fox jumps over the lazy dog " * 8) +
      "while the band plays on and the crowd waves back in slow delight"
    val shard = long.takeRight(60) // verbatim tail, ~14% of the long doc
    val docs = Seq(
      (1L, long), (2L, shard),
      (3L, "completely unrelated content about maritime navigation beacons"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text",
        shingleN = 8, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(cont.map(p => (p._1, p._2)) == Seq((1L, 2L)), s"got $cont")
    assert(cont.head._3 >= 0.99) // every shard shingle appears in the long doc
    // The symmetric path rightly rejects it: the union dwarfs the shard.
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 8, threshold = 0.8).count()
    assert(jac == 0L)
  }

  test("minHashLshPairs agrees with exact ngramJaccardPairs") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleN = 8, threshold = 0.5)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text", shingleN = 8,
      threshold = 0.5).orderBy("doc_a", "doc_b").collect().toSeq
    assert(lsh.map(r => (r.getLong(0), r.getLong(1))) ==
      exact.map(r => (r.getLong(0), r.getLong(1))))
    // Verified jaccard values must be identical (both exact over the sets).
    assert(lsh.map(_.getDouble(2)) == exact.map(_.getDouble(2)))
  }

  test("minHashLshPairsAgainst: bipartite pairs == cross-side slice of self-join") {
    import org.apache.spark.sql.functions._
    val newSide = docs.where(col("doc_id") % 2 === 0)
    val corpus = docs.where(col("doc_id") % 2 =!= 0)
    val inc = Dedup.minHashLshPairsAgainst(newSide, corpus, "doc_id", "text",
      shingleN = 8, threshold = 0.5).orderBy("new_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val full = Dedup.minHashLshPairs(docs, "doc_id", "text", shingleN = 8,
      threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a % 2 == 0) != (b % 2 == 0) }
      .map { case (a, b, j) => if (a % 2 == 0) (a, b, j) else (b, a, j) }
      .sortBy(p => (p._1, p._2)).toSeq
    assert(inc == full)
  }

  test("minHashLshBatchPairs == minHashLshPairsAgainstSignatures ++ " +
      "minHashLshPairs over the batch") {
    import org.apache.spark.sql.functions._
    val fixture = "/root/testdata/sf0.001/documents.parquet"
    val docs = spark.read.parquet(fixture).select(col("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val batch = docs.where(col("doc_id") % 10 === 0)
    val sigs = Dedup.minHashSignatures(corpus, "doc_id", "text", shingleN = 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val cross = Dedup.minHashLshPairsAgainstSignatures(batch, sigs, "doc_id",
      "text", shingleN = 8, threshold = 0.5)
      .select(col("new_id"), col("corpus_id"))
    val internal = Dedup.minHashLshPairs(batch, "doc_id", "text",
      shingleN = 8, threshold = 0.5).select(col("doc_a"), col("doc_b"))
    val expected = pairs(cross) ++ pairs(internal)
    graft.core.Caches.release()
    val out = Dedup.minHashLshBatchPairs(batch, sigs, "doc_id", "text",
      shingleN = 8, threshold = 0.5)
    assert(out.columns.toSeq == Seq("doc_a", "doc_b"))
    assert(pairs(out) == expected.sorted)
    assert(expected.nonEmpty)
    graft.core.Caches.release()
  }

  test("persisted signature table: batch run scans signatures + batch text, " +
      "never corpus text, and matches the recompute-from-text path") {
    import org.apache.spark.sql.functions._
    // The 100 TB ingestion contract (Dedup.minHashSignatures scaladoc):
    // corpus signatures are computed ONCE and written; each batch joins
    // against the stored table. Build it from the real documents fixture,
    // write parquet, read back, and dedup a disjoint batch against it.
    val fixture = "/root/testdata/sf0.001/documents.parquet"
    // Corpus text lives in its OWN store (as it would at scale) so the
    // plan assertion below can prove it is never touched by a batch run.
    val corpusDir = java.nio.file.Files.createTempDirectory("corpus-docs").toString
    spark.read.parquet(fixture)
      .select(col("doc_id"), col("text")).where(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(corpusDir)
    val corpus = spark.read.parquet(corpusDir)
    val sigDir = java.nio.file.Files.createTempDirectory("sig-table").toString
    Dedup.minHashSignatures(corpus, "doc_id", "text", shingleN = 8)
      .write.mode("overwrite").parquet(sigDir)
    // Batch: odd-id docs, id-space shifted above the corpus.
    val batch = spark.read.parquet(fixture)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .where(col("doc_id") % 2 =!= 0)
    val out = Dedup.minHashLshPairsAgainstSignatures(
      batch, spark.read.parquet(sigDir), "doc_id", "text",
      shingleN = 8, threshold = 0.5)
    // Plan proof: the batch run reads the signature table, NEVER the
    // corpus text store.
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("corpus-docs"), s"corpus text rescanned:\n$plan")
    assert(plan.contains("sig-table"), s"signature table not in plan:\n$plan")
    // Result parity with the self-contained recompute-from-text variant.
    val fromSigs = out.orderBy("new_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val fromText = Dedup.minHashLshPairsAgainst(batch, corpus, "doc_id", "text",
        shingleN = 8, threshold = 0.5).orderBy("new_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(fromSigs == fromText)
    assert(fromSigs.nonEmpty) // the fixture carries planted near-dups
  }

  test("signatureIndexAppend: append == rebuild for serving, overlap " +
      "dropped, re-append idempotent") {
    import org.apache.spark.sql.functions._
    val fixture = "/root/testdata/sf0.001/documents.parquet"
    val docs = spark.read.parquet(fixture).select(col("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 2 =!= 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    // full rebuild reference
    val fullDir = java.nio.file.Files.createTempDirectory("sig-full").toString
    Dedup.minHashSignatures(corpus, "doc_id", "text", shingleN = 8)
      .write.mode("overwrite").parquet(fullDir)
    // 60% build + overlapping append
    val incDir = java.nio.file.Files.createTempDirectory("sig-inc").toString
    Dedup.minHashSignatures(corpus.where(col("doc_id") < 300),
        "doc_id", "text", shingleN = 8)
      .write.mode("overwrite").parquet(incDir)
    Dedup.signatureIndexAppend(spark,
      corpus.where(col("doc_id") >= 250), "doc_id", "text", incDir,
      shingleN = 8)
    // no duplicate ids despite the 250-299 overlap
    val ids = spark.read.parquet(incDir).select(col("_id"))
    assert(ids.count() == ids.distinct().count())
    assert(ids.count() == corpus.count())
    // serving parity: same pairs from both stores
    def pairs(dir: String) = Dedup.minHashLshPairsAgainstSignatures(
        batch, spark.read.parquet(dir), "doc_id", "text",
        shingleN = 8, threshold = 0.5)
      .orderBy("new_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val inc = pairs(incDir)
    assert(inc == pairs(fullDir) && inc.nonEmpty)
    // idempotent: re-appending the same delta adds nothing
    val before = spark.read.parquet(incDir).count()
    Dedup.signatureIndexAppend(spark,
      corpus.where(col("doc_id") >= 250), "doc_id", "text", incDir,
      shingleN = 8)
    assert(spark.read.parquet(incDir).count() == before)
  }

  test("signatureIndexAppend: bootstrap on missing dir, changed-content " +
      "conflict fails loudly, onConflict=ignore keeps the stored row") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("sig-boot").toString +
      "/store" // nonexistent subdir: the true first-crawl shape
    val v1 = Seq((1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "an entirely different second document body goes here"))
      .toDF("doc_id", "text")
    // bootstrap: no prior store, no read of the missing dir
    Dedup.signatureIndexAppend(spark, v1, "doc_id", "text", dir, shingleN = 4)
    assert(spark.read.parquet(dir).count() == 2)
    // unchanged re-crawl of id 1 plus a new id 3: idempotent, no conflict
    val v2 = Seq((1L, "the quick brown fox jumps over the lazy dog again"),
      (3L, "a third document that the crawl just discovered today"))
      .toDF("doc_id", "text")
    Dedup.signatureIndexAppend(spark, v2, "doc_id", "text", dir, shingleN = 4)
    assert(spark.read.parquet(dir).count() == 3)
    // id 1 re-crawled with CHANGED text: default errors and names the id
    val changed = Seq((1L, "completely rewritten page content after an edit"))
      .toDF("doc_id", "text")
    val ex = intercept[IllegalStateException] {
      Dedup.signatureIndexAppend(spark, changed, "doc_id", "text", dir,
        shingleN = 4)
    }
    assert(ex.getMessage.contains("CHANGED content") &&
      ex.getMessage.contains("1"))
    // explicit opt-out keeps the stored signature (store unchanged)
    val keep = spark.read.parquet(dir).where(col("_id") === 1L)
      .select(col("_sig")).head().getSeq[Long](0)
    Dedup.signatureIndexAppend(spark, changed, "doc_id", "text", dir,
      shingleN = 4, onConflict = "ignore")
    assert(spark.read.parquet(dir).count() == 3)
    assert(spark.read.parquet(dir).where(col("_id") === 1L)
      .select(col("_sig")).head().getSeq[Long](0) == keep)
  }

  test("clusterIndexAppend: bridge merges two stored clusters, new-new " +
      "chains, singletons, equals full rebuild") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val stored = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L), (9L, 9L))
      .toDF("doc_id", "cluster_id")
    val newDocs = Seq(101L, 102L, 103L, 104L).toDF("doc_id")
    val delta = Seq(
      (101L, 2L), (101L, 6L),   // one new doc bridges clusters 1 and 5
      (102L, 103L)              // batch-internal pair, no corpus contact
      // 104 has no pairs at all
    ).toDF("doc_a", "doc_b")
    val got = graft.ops.Dedup.clusterIndexAppend(stored, newDocs,
        "doc_id", delta)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == Seq(
      (1L, 1L, 1), (2L, 1L, 0), (5L, 1L, 0), (6L, 1L, 0), (9L, 9L, 1),
      (101L, 1L, 0), (102L, 102L, 1), (103L, 102L, 0), (104L, 104L, 1)))
    // full-rebuild equality: CC over the stored clusters' own pairs plus
    // the delta must give the same table
    val rebuilt = graft.ops.Dedup.dedupAssign(
        stored.select("doc_id").unionAll(newDocs), "doc_id",
        Seq((1L, 2L), (5L, 6L)).toDF("doc_a", "doc_b").unionAll(delta))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rebuilt.toSeq == got.toSeq)
    // plan proof of the 100 TB contract: the store side is only ever the
    // STREAMED input of broadcast joins — no shuffle of the big table
    val plan = graft.ops.Dedup.clusterIndexAppend(stored, newDocs,
      "doc_id", delta).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(400))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "store must not shuffle:\n" + plan.take(800))
  }

  test("batchAdmission: per-new-doc verdict, zero-match docs keep, " +
      "multi-match counts exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val batch = Seq(10L, 20L, 30L).toDF("doc_id")
    val pairs = Seq(
      (10L, 101L, 0.9), (10L, 102L, 0.85),  // two corpus dups
      (30L, 103L, 1.0)                       // one
      // 20 matched nothing -> keep
    ).toDF("new_id", "corpus_id", "jaccard")
    val got = graft.ops.Dedup.batchAdmission(batch, "doc_id", pairs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq((10L, 2L, 0), (20L, 0L, 1), (30L, 1L, 0)))
  }

  test("identical docs have jaccard 1.0 through the LSH path") {
    import spark.implicits._
    val dup = Seq((10L, "same text body here"), (11L, "same text body here"))
      .toDF("doc_id", "text")
    val out = Dedup.minHashLshPairs(dup, "doc_id", "text", threshold = 0.9).collect()
    assert(out.length == 1 && out(0).getDouble(2) == 1.0)
  }

  test("simHashPairs: identical docs pair at Hamming 0, unrelated docs don't pair") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content with nothing shared whatsoever xyz"))
      .toDF("doc_id", "text")
    val out = Dedup.simHashPairs(d, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq((1L, 2L, 0)))
  }

  /** 64-bit SimHash as a single per-row Column: the reference the
    * distributed [[Dedup.simHashPerDoc]] signature must equal. */
  private def simHash64(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val hashes = transform(split(lower(trim(text)), "\\s+"), t => xxhash64(t))
    aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (acc, bit) => {
        val vote = aggregate(hashes, lit(0L),
          (v, h) => v + (call_function("getbit", h, bit).cast("long") * 2 - 1))
        acc.bitwiseOR(
          when(vote > 0, call_function("shiftleft", lit(1L), bit)).otherwise(lit(0L)))
      })
  }

  test("simHashPerDoc distributed signature equals the per-row simHash64 expression") {
    val expected = docs.select(col("doc_id"), simHash64(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaAgg = Dedup.simHashPerDoc(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAgg == expected)
  }

  test("containmentPairs hot-hash salting is lossless (maxDf=2 == unguarded)") {
    import spark.implicits._
    // A boilerplate-heavy corpus: every doc carries the same viral banner
    // (its 8-grams reach df=12, far over maxDf=2 → salted across 6
    // sub-keys), plus one genuine containment pair (1 ⊃ 2). With maxDf=2
    // nearly every shared hash takes the salted path; the pair set must be
    // IDENTICAL to the effectively-unguarded run.
    val banner = "LICENSED UNDER THE APACHE SOFTWARE FOUNDATION TERMS "
    val long = banner + ("the quick brown fox jumps over the lazy dog " * 6) +
      "while the band plays on and the crowd waves back in slow delight"
    val docs = (Seq(
      (1L, long),
      (2L, banner + long.takeRight(60))) ++
      (3L to 12L).map(i => (i, banner + s"unique filler content number $i " +
        ("zzz " * i.toInt) + s"tail marker $i")))
      .toDF("doc_id", "text")
    def run(maxDf: Int) = Dedup.containmentPairs(docs, "doc_id", "text",
        shingleN = 8, threshold = 0.6, maxDf = maxDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    val unguarded = run(1000000)
    val salted = run(2)
    assert(unguarded.nonEmpty) // the banner + shared tail make real pairs
    assert(salted == unguarded, s"salted=$salted unguarded=$unguarded")
  }

  test("dedupKeepBest: one 100k-member mega-component, no Window sort in plan") {
    import org.apache.spark.sql.functions._
    // Everything chains into ONE component — the shard-dedup shape that
    // serializes a per-component row_number window into a single task. The
    // argmax formulation must plan as map-side-combinable aggregates: no
    // Window node anywhere in the physical plan.
    val n = 100000L
    val docs = spark.range(0, n, 1, 8)
      .select(col("id").as("doc_id"), (col("id") % 1000).as("quality"))
    val pairs = spark.range(0, n - 1, 1, 8)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val out = Dedup.dedupKeepBest(docs, "doc_id", pairs, col("quality"))
    assert(!out.queryExecution.executedPlan.toString.contains("Window"),
      "keeper selection must not plan a per-component window sort")
    val keepers = out.where(col("keep") === 1)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    // Max quality 999 is shared by ids 999, 1999, …; smallest id wins.
    assert(keepers == Seq(999L))
    assert(out.where(col("cluster_id") =!= 0L).count() == 0L)
  }

  test("connectedComponents checkpointDir: identical output, superseded rounds deleted") {
    import spark.implicits._
    val edges = ((1L to 9L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (22L, 20L))).toDF("a", "b")
    val want = Dedup.connectedComponents(edges, "a", "b", localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val got = Dedup.connectedComponents(edges, "a", "b", localThreshold = 0L,
        checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // Superseded round files are deleted as the loop advances; only the
    // final round (backing the returned frame) remains.
    val rounds = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("connectedComponents_"))
    assert(rounds.length == 1, rounds.map(_.getName).mkString(","))
  }

  test("connectedComponents checkpointDir: two calls sharing one directory " +
      "keep each other's final round") {
    import spark.implicits._
    // A's result is consumed only AFTER B ran in the same directory. B is a
    // longer chain, so it runs more rounds than A: without a per-call salt
    // on the round files, B overwrites A's final round and then deletes it
    // as superseded, and A's collect reads missing or foreign parquet.
    def chain(n: Long) = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-share").toString
    val a = Dedup.connectedComponents(chain(4), "a", "b", localThreshold = 0L,
      checkpointDir = Some(dir))
    val b = Dedup.connectedComponents(chain(200), "a", "b",
        localThreshold = 0L, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b == (1L to 200L).map(_ -> 1L).toMap)
    val got = a.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 4L).map(_ -> 1L).toMap)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("checkpointDir threads end-to-end through dedupAssign/KeepBest/Filter") {
    import spark.implicits._
    // Large-enough chain to clear the CC local-threshold fast path so the
    // distributed (checkpointing) loop actually runs.
    val pairs = (1L to 3000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val docs = (1L to 3001L).map(i => (i, i % 7)).toDF("doc_id", "quality")
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-ckpt")
    def roundFiles() = new java.io.File(dir.toString).listFiles()
      .count(_.getName.startsWith("connectedComponents_"))
    val assign = Dedup.dedupAssign(docs, "doc_id", pairs,
      checkpointDir = Some(dir.toString), ccLocalThreshold = 0L)
    assert(assign.where(col("cluster_id") === 1L).count() == 3001L)
    assert(roundFiles() >= 1, "dedupAssign did not reach the CC checkpoint path")
    val best = Dedup.dedupKeepBest(docs, "doc_id", pairs, col("quality"),
      checkpointDir = Some(dir.toString), ccLocalThreshold = 0L)
    // Max quality 6 first occurs at id 6 in the single chain cluster.
    assert(best.where(col("keep") === 1).select("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(6L))
    val kept = Dedup.dedupFilter(docs, "doc_id", pairs,
      checkpointDir = Some(dir.toString), ccLocalThreshold = 0L)
    assert(kept.count() == 1L)
    val split = graft.ops.Sampling.leakageSafeSplit(docs, "doc_id", pairs,
      Seq("train" -> 0.8, "test" -> 0.2),
      checkpointDir = Some(dir.toString), ccLocalThreshold = 0L)
    assert(split.select("split").distinct().count() == 1L,
      "one cluster must land in exactly one split")
  }

  /** Start the cache-lifecycle tests from a clean block manager: earlier
    * tests in the shared session cache the same logical plans (CacheManager
    * dedupes by plan), which would alias the before/after snapshots. */
  private def clearAllCaches(): Unit = {
    Dedup.releaseCaches()
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("cache lifecycle: releaseCaches drops every dedup-op intermediate") {
    val sc = spark.sparkContext
    clearAllCaches()
    assert(sc.getPersistentRDDs.isEmpty)
    // One op per family that persists intermediates, each fully consumed.
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 8, 0.5)
    assert(pairs.count() == 1)
    assert(Dedup.minHashLshPairs(docs, "doc_id", "text", threshold = 0.5).count() == 1)
    assert(Dedup.containmentPairs(docs, "doc_id", "text", 8, 0.5).count() >= 1)
    Dedup.simHashPairs(docs, "doc_id", "text").count() // consume; pair count irrelevant
    assert(sc.getPersistentRDDs.nonEmpty,
      "expected the ops to persist intermediates")
    Dedup.releaseCaches()
    assert(sc.getPersistentRDDs.isEmpty,
      "releaseCaches must drop every registered block")
    // The frame survives its caches: later actions recompute from lineage.
    assert(pairs.count() == 1)
  }

  test("Caches.scoped: drops only this op's blocks, result stays valid") {
    val sc = spark.sparkContext
    clearAllCaches()
    // Pins made outside the scope, which the scope must leave alone.
    Dedup.simHashPairs(docs, "doc_id", "text").count()
    val outside = sc.getPersistentRDDs.keySet.toSet
    assert(outside.nonEmpty, "expected simHashPairs to persist intermediates")
    val pairs = graft.core.Caches.scoped {
      val p = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 8, 0.5)
      assert(p.count() == 1)
      assert((sc.getPersistentRDDs.keySet.toSet -- outside).nonEmpty,
        "expected ngramJaccardPairs to persist intermediates")
      p
    }
    assert(sc.getPersistentRDDs.keySet.toSet == outside,
      "scoped must drop exactly the pins made inside it")
    // The frame survives its caches: later actions recompute from lineage.
    assert(pairs.count() == 1)
    Dedup.releaseCaches()
    assert(sc.getPersistentRDDs.isEmpty)
  }

  test("editDistancePairs: within-block pairs equal brute force, cross-block missed by contract, dist exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, element_at, split, levenshtein}
    // Duplicated corpus rows exercise the distinct-dictionary projection.
    val corpus = Seq(
      "red widget", "red widget", "rad widget", "blue widget",
      "red gadget", "reed widget", "tiny bolt", "tiny bolts", "tony bolt"
    ).toDF("name")
    val block: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      k => element_at(split(k, " "), -1)
    val got = graft.ops.Dedup.editDistancePairs(corpus, "name", block, 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    // Brute force over the distinct dictionary, restricted to equal blocks
    // (the documented recall contract), full untresholded Levenshtein.
    val dict = corpus.distinct()
    val brute = dict.as("a").crossJoin(dict.as("b"))
      .where(col("a.name") < col("b.name") &&
        element_at(split(col("a.name"), " "), -1) ===
          element_at(split(col("b.name"), " "), -1))
      .select(col("a.name"), col("b.name"),
        levenshtein(col("a.name"), col("b.name")).as("d"))
      .where(col("d") <= 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == brute)
    // Sanity on content: the rad/red pair survives at distance 1; the
    // cross-block red widget/red gadget pair is absent (blocking miss);
    // no pair exceeds the threshold; no self or duplicate-orientation pairs.
    assert(got.contains(("rad widget", "red widget", 1)))
    assert(!got.exists(p => p._1 == "red gadget" || p._2 == "red gadget"))
    assert(got.forall(_._3 <= 3) && got.forall(p => p._1 < p._2))
  }

  test("positivePairs: path pairing with m successors, singletons " +
      "excluded, viral clusters capped deterministically") {
    import spark.implicits._
    val assign = Seq((1L, 1L), (3L, 1L), (7L, 1L), (9L, 1L), // 4-cluster
      (20L, 20L),                                            // singleton
      (30L, 30L), (31L, 30L))                                // 2-cluster
      .toDF("doc_id", "cluster_id")
    val m1 = Dedup.positivePairs(assign, "doc_id", "cluster_id", m = 1)
      .orderBy("cluster_id", "id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(m1.toSeq == Seq((1L, 1L, 3L), (1L, 3L, 7L), (1L, 7L, 9L),
      (30L, 30L, 31L)))
    val m2 = Dedup.positivePairs(assign, "doc_id", "cluster_id", m = 2)
      .orderBy("cluster_id", "id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(m2.toSeq == Seq((1L, 1L, 3L), (1L, 1L, 7L), (1L, 3L, 7L),
      (1L, 3L, 9L), (1L, 7L, 9L), (30L, 30L, 31L)))
    assert(m2.forall(p => p._2 < p._3))
    // viral cluster: contribution bounded at maxCluster members →
    // ≤ (maxCluster−1)·m pairs, and the kept subset is deterministic
    val viral = (1L to 500L).map(i => (i, 0L)).toDF("doc_id", "cluster_id")
    val a = Dedup.positivePairs(viral, "doc_id", "cluster_id", m = 2,
      maxCluster = 50).collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val b = Dedup.positivePairs(viral.repartition(7), "doc_id", "cluster_id",
      m = 2, maxCluster = 50).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(a == b && a.size <= 49 * 2 && a.size >= 49)
  }

  test("softDedupWeights: exact ppm weights, singletons at 1000000, " +
      "no window in the plan") {
    import spark.implicits._
    val assign = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L),
      (6L, 5L)).toDF("doc_id", "cluster_id")
    val out = Dedup.softDedupWeights(assign, "doc_id")
    val got = out.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 1L, 3L, 333333L), (2L, 1L, 3L, 333333L), (3L, 1L, 3L, 333333L),
      (4L, 4L, 1L, 1000000L), (5L, 5L, 2L, 500000L), (6L, 5L, 2L, 500000L)))
    // Mega-cluster safety: sizes come from a groupBy + join back, never a
    // count() window that lands a viral cluster in one task.
    assert(!out.queryExecution.executedPlan.toString.contains("Window"),
      "softDedupWeights must not use a window")
  }
}
