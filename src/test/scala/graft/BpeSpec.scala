package graft

import org.apache.spark.sql.functions._
import graft.ops.Export
import graft.queries.LlmQueries

/** Subword (BPE) tier: merge-table learning, vocabulary induction, and
  * the codegen'd replace-chain encoder behind q91. */
class BpeSpec extends SparkSpec {

  test("bpeLearn: hand-checked merges, frequency argmax + lexical tie-break") {
    import spark.implicits._
    // Word counts: "ab ab" twice and "ac" once per doc → ab:4, ac:2.
    // Round 1: pairs (a,b):4 vs (a,c):2 → merge (a,b).
    // Round 2: only (a,c):2 remains → merge (a,c). Then no pairs → stop.
    val docs = Seq("ab ab ac", "ab ab ac").toDF("text")
    val merges = Export.bpeLearn(docs, "text", numMerges = 5)
    assert(merges == Seq(("a", "b"), ("a", "c")))
    // minPairCount floor: hapax pairs are not merged.
    val docs2 = Seq("ab xy xy").toDF("text")
    assert(Export.bpeLearn(docs2, "text", 5) == Seq(("x", "y")))
    // Lexical tie-break: "ba" and "bc" both count 2 → (b,a) < (b,c).
    val docs3 = Seq("ba ba bc bc").toDF("text")
    assert(Export.bpeLearn(docs3, "text", 1) == Seq(("b", "a")))
  }

  test("bpeApplyMerges: leftmost non-overlapping, exactly BPE's order") {
    import spark.implicits._
    val U = Export.BpeSep
    def seqOf(word: String, merges: Seq[(String, String)]): Seq[String] =
      Seq(word).toDF("w")
        .select(Export.bpeApplyMerges(Export.bpeInitSeq(col("w")), merges)
          .as("s"))
        .collect().head.getString(0).split(" ").toSeq
        .map(s => s.substring(1, s.length - 1))
    // Odd run of a self-pair merges leftmost-first: aaa → [aa, a].
    assert(seqOf("aaa", Seq(("a", "a"))) == Seq("aa", "a"))
    // A later merge builds on an earlier product: (a,b) then (ab,c).
    assert(seqOf("abc", Seq(("a", "b"), ("ab", "c"))) == Seq("abc"))
    // A merge whose parts were consumed earlier no longer applies.
    assert(seqOf("abc", Seq(("a", "b"), ("b", "c"))) == Seq("ab", "c"))
    // Marker prevents cross-boundary substring matches: symbols (ab)(c)
    // must NOT match a (b,c) pattern.
    assert(seqOf("abcd", Seq(("a", "b"), ("b", "c"))) == Seq("ab", "c", "d"))
    assert(U == "")
  }

  test("q91 pins: pinned merge table and vocab equal a fresh learn on sf0.001") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // Default path is the driver fast path; the pins were learned by the
    // DISTRIBUTED loop (graft.BpePin, round 10) — passing means the two
    // paths agree on the fixture on top of the dedicated equality test.
    val merges = Export.bpeLearn(docs, "text", numMerges = 24)
    assert(merges == LlmQueries.BpeMerges,
      "pinned BpeMerges drifted from bpeLearn output — rerun graft.BpePin")
    val vocab = Export.bpeVocab(docs, "text", merges)
    assert(vocab == LlmQueries.BpeVocab,
      "pinned BpeVocab drifted from bpeVocab output — rerun graft.BpePin")
  }

  test("bpeLearn: driver fast path == distributed loop (ties, unicode, fixture)") {
    import spark.implicits._
    def both(docs: org.apache.spark.sql.DataFrame, n: Int) = {
      val local = Export.bpeLearn(docs, "text", n)
      val dist = graft.core.Caches.overBudget(Export.bpeLearn(docs, "text", n))
      assert(local == dist, s"fast path diverged: $local vs $dist")
      local
    }
    // Tie-heavy: every pair count equal → order decided purely by the
    // tie-break, where the two paths' string orderings could diverge.
    both(Seq("ab cd ab cd ef ef").toDF("text"), 5)
    // Supplementary-plane symbols: UTF8 binary order ≠ UTF-16 compareTo
    // exactly here ( U+FF10 ＇０＇ sorts AFTER U+1D552 𝕒 in UTF8 bytes but
    // BEFORE it in UTF-16 code units); counts tie so the tie-break decides.
    both(Seq("𝕒x ０x 𝕒x ０x").toDF("text"), 3)
    // Fixture sample.
    both(spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100), 8)
  }

  test("bpeEncode plan shape: one exchange (the id repartition), vocab broadcast, " +
      "merge chain codegen'd") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Export.bpeEncode(docs, "doc_id", "text",
        LlmQueries.BpeMerges, LlmQueries.BpeVocab, oovBuckets = 256)
      .queryExecution.executedPlan.toString
    // Exactly one data exchange: the upfront doc_id repartition. The final
    // per-doc rebuild groups on the same key in place, and the vocab join
    // must be a broadcast — symbol rows never shuffle.
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan.take(600))
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
    assert(!plan.contains("SortMergeJoin"), plan.take(600))
  }

  test("bpeEncode: round-trip decode rebuilds the normalized text; empty docs survive") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(100)
      .unionAll(Seq((100001L, ""), (100002L, "   ")).toDF("doc_id", "text"))
    val enc = Export.bpeEncode(docs, "doc_id", "text",
      LlmQueries.BpeMerges, LlmQueries.BpeVocab, oovBuckets = 256)
    // Learn-corpus chars are all in the pinned alphabet → no OOV ids, and
    // concatenating decoded symbols in order rebuilds the doc's words
    // (normalized, space-stripped).
    val inv = LlmQueries.BpeVocab.map { case (s, i) => (i, s) }.toMap
    val decoded = enc.collect().map { r =>
      val ids = r.getSeq[Long](r.fieldIndex("input_ids"))
      assert(ids.forall(inv.contains), s"unexpected OOV id for ${r.get(0)}")
      r.getLong(0) -> ids.map(inv).mkString
    }.toMap
    val expected = docs
      .select(col("doc_id"),
        array_join(split(lower(trim(col("text"))), "\\s+"), "").as("joined"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(decoded.keySet == expected.keySet)
    expected.foreach { case (id, want) =>
      assert(decoded(id) == want, s"round-trip mismatch for doc $id")
    }
    // Token-less docs: present with n_toks 0 and empty ids.
    val empties = enc.where(col("doc_id") >= 100001L)
      .select("n_toks").collect().map(_.getLong(0)).toSeq
    assert(empties == Seq(0L, 0L))
  }

  test("bpeLearn sampleFraction: deterministic md5 band, learn-on-sample contract") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // The band is a pure function of the text: two invocations (and any
    // repartitioning) select the identical sample, so the learned table
    // is reproducible — the property that lets a 100 TB pipeline learn on
    // a sample and still be replayable.
    val a = Export.bpeLearn(docs, "text", 12, sampleFraction = 0.5)
    val b = Export.bpeLearn(docs.repartition(7), "text", 12, sampleFraction = 0.5)
    assert(a == b, "sampled learn must be partitioning-invariant")
    assert(a.nonEmpty)
    // The sample is the md5 band, replayable outside the learner.
    val banded = docs.where(
      pmod(graft.ops.Dedup.md5Hash60(col("text")), lit(1000000L)) < lit(500000L))
    assert(Export.bpeLearn(banded, "text", 12) == a)
    // Degenerate fractions are rejected loudly.
    intercept[IllegalArgumentException] {
      Export.bpeLearn(docs, "text", 2, sampleFraction = 0.0)
    }
  }

  // ── Native BpeApply kernel (the production-vocab path) ───────────────

  /** Driver-side sequential reference: apply each merge fully (leftmost
    * non-overlapping) before the next — the DEFINITION of BPE
    * application, independent of both the fold's `replace` chain and the
    * kernel's rank-priority loop. */
  private def seqApply(word: String,
                       merges: Seq[(String, String)]): Seq[String] = {
    var syms = word.codePoints().toArray
      .map(cp => new String(Character.toChars(cp))).toSeq
    merges.foreach { case (x, y) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var j = 0
      while (j < syms.length) {
        if (j + 1 < syms.length && syms(j) == x && syms(j + 1) == y) {
          out += x + y; j += 2
        } else { out += syms(j); j += 1 }
      }
      syms = out.toSeq
    }
    syms
  }

  test("native bpeEncode == nested-replace fold, byte-for-byte (pinned table + edges)") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(200)
      .unionAll(Seq((200001L, ""), (200002L, "   "),
        (200003L, "aaa abab 𝕒x０𝕒 scan window sort ORDER"),
        (200004L, "zzzéé café naïve"))
        .toDF("doc_id", "text"))
    def run(native: Boolean) = Export.bpeEncode(docs, "doc_id", "text",
        LlmQueries.BpeMerges, LlmQueries.BpeVocab, oovBuckets = 256,
        useNative = native)
      .select(col("doc_id"), col("n_toks"),
        concat_ws(" ", transform(col("input_ids"), _.cast("string"))).as("ids"))
      .collect().map(_.toString).sorted.toSeq
    assert(run(native = true) == run(native = false),
      "native kernel diverged from the oracle-replayable fold")
  }

  test("BpeApply rejects non-learned merge tables (parts-precede validation)") {
    // (ab, c) at rank 0 would consume a product that doesn't exist yet —
    // rank-priority application is only sequential-equivalent for learned
    // tables, so the kernel must refuse rather than silently diverge.
    val e = intercept[IllegalArgumentException] {
      graft.plans.BpeApply(col("w"), Seq(("ab", "c"), ("a", "b")))
    }
    assert(e.getMessage.contains("parts-precede"))
    // The same pairs in learnable order are accepted.
    graft.plans.BpeApply(col("w"), Seq(("a", "b"), ("ab", "c")))
  }

  // ── Incremental learner + production-scale merge counts ──────────────

  /** Deterministic syllable-built vocabulary: enough shared multi-char
    * structure that thousands of merges stay above the count-2 floor. */
  private def syllableVocab(nWords: Int): Seq[(String, Long)] = {
    val rnd = new scala.util.Random(11)
    val sylls = Vector("ka", "to", "mi", "ra", "shu", "en", "bo", "li",
      "dra", "pex", "ur", "van", "qi", "sol", "tem", "ny", "gar", "ze",
      "plo", "wis", "chu", "fre", "ost", "bal", "ig", "mun", "tri", "vo",
      "hep", "sa")
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    while (words.size < nWords) {
      val n = 2 + rnd.nextInt(4)
      words += Seq.fill(n)(sylls(rnd.nextInt(sylls.size))).mkString
    }
    words.toSeq.map(w => (w, 1L + rnd.nextInt(100).toLong))
  }

  test("incremental learner == full-recount twin (small, ties, unicode, 200 merges)") {
    def both(words: Seq[(String, Long)], n: Int): Seq[(String, String)] = {
      val inc = Export.bpeLearnLocal(words, n, minPairCount = 2L)
      val rec = Export.bpeLearnLocalRecount(words, n, minPairCount = 2L)
      assert(inc == rec,
        s"incremental diverged at merge ${inc.zip(rec).indexWhere(t => t._1 != t._2)}")
      inc
    }
    both(Seq(("ab", 2L), ("ac", 1L)), 5)
    // Tie-heavy: argmax decided purely by the UTF8 tie-break every round.
    both(Seq(("ab", 2L), ("cd", 2L), ("ef", 2L), ("abcd", 2L)), 8)
    // Supplementary-plane tie-break (UTF8 binary ≠ UTF-16 compareTo).
    both(Seq(("𝕒x", 2L), ("０x", 2L)), 3)
    // Overlapping self-pairs: "aaaa" exercises the batch-merge + retract
    // bookkeeping where one merge destroys a neighboring occurrence.
    both(Seq(("aaaa", 3L), ("aaab", 2L), ("baaa", 2L)), 6)
    // 200 merges over a structured vocabulary: every round's retract/
    // contribute delta must exactly track the recount.
    val m = both(syllableVocab(3000), 200)
    assert(m.size == 200, s"expected 200 merges, learned ${m.size}")
  }

  test("production-scale merge table: >=2000 merges learned in seconds, " +
      "native apply == sequential definition, fold path not required") {
    import spark.implicits._
    val vocab = syllableVocab(20000)
    val t0 = System.nanoTime()
    val merges = Export.bpeLearnLocal(vocab, 2500, minPairCount = 2L)
    val learnSec = (System.nanoTime() - t0) / 1e9
    assert(merges.size >= 2000,
      s"vocabulary too shallow: only ${merges.size} merges above the floor")
    info(f"learned ${merges.size} merges over 20k words in $learnSec%.1f s")
    assert(learnSec < 60.0, f"incremental learn too slow: $learnSec%.1f s")
    // The kernel applies the full table with a constant-size plan; check
    // it against the sequential DEFINITION on a word sample (the fold
    // path would need a ${merges.size}-deep expression tree — the exact
    // ceiling this kernel removes — so the reference here is driver-side).
    val sample = vocab.take(500).map(_._1)
    val got = sample.toDF("w")
      .select(col("w"), graft.plans.BpeApply(col("w"), merges).as("syms"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    sample.foreach { w =>
      assert(got(w) == seqApply(w, merges), s"kernel diverged on '$w'")
      assert(got(w).mkString == w, s"round-trip lost bytes on '$w'")
    }
  }
}
