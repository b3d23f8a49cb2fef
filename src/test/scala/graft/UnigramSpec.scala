package graft

import org.apache.spark.sql.functions._
import graft.ops.Unigram
import graft.plans.{UnigramEncode, UnigramKernel}
import graft.queries.LlmQueries
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM tier: deterministic Viterbi-EM fit, the native Viterbi
  * kernel behind q93, and the kernel-vs-enumeration argmax contract. */
class UnigramSpec extends SparkSpec {

  /** Brute-force reference: enumerate EVERY segmentation (vocab pieces +
    * hashed-OOV single chars) and take the argmax under the kernel's
    * total order — the same computation the q93 oracle does in SQL. */
  private def enumerate(word: String, pieces: Seq[(String, Long, Long)],
                        oovBuckets: Int): Seq[Long] = {
    val byPiece = pieces.map(t => t._1 -> (t._2, t._3)).toMap
    val cps = word.codePoints().toArray
      .map(cp => new String(Character.toChars(cp)))
    val v = pieces.size.toLong
    def segs(i: Int): Seq[(Long, Seq[Long])] =
      if (i == cps.length) Seq((0L, Nil))
      else (1 to (cps.length - i)).flatMap { l =>
        val sub = cps.slice(i, i + l).mkString
        val edge = byPiece.get(sub).map { case (id, sc) => (id, sc) }
          .orElse(if (l == 1)
            Some((UnigramKernel.oovId(sub, v, oovBuckets),
              UnigramKernel.OovScoreMicro))
          else None)
        edge.toSeq.flatMap { case (id, sc) =>
          segs(i + l).map { case (s, ids) => (s + sc, id +: ids) }
        }
      }
    segs(0).minBy { case (s, ids) =>
      (-s, ids.size, ids.map(id => f"$id%06d").mkString)
    }._2
  }

  private def kernelIds(word: String, pieces: Seq[(String, Long, Long)],
                        oovBuckets: Int): Seq[Long] = {
    val flat = new Array[String](pieces.size * 3)
    pieces.zipWithIndex.foreach { case ((p, id, sc), i) =>
      flat(3 * i) = p; flat(3 * i + 1) = id.toString; flat(3 * i + 2) = sc.toString
    }
    val t = UnigramKernel.buildTable(flat, oovBuckets)
    val out = UnigramKernel.encode(UTF8String.fromString(word), t)
    (0 until out.numElements()).map(out.getLong)
  }

  test("Viterbi kernel: hand-checked segmentations and tie-breaks") {
    // "ab" as one piece beats two singles when its score says so.
    val p1 = Seq(("a", 0L, -1000L), ("b", 1L, -1000L), ("ab", 2L, -1500L))
    assert(kernelIds("ab", p1, 16) == Seq(2L))
    // Score tie (two singles = -2000 = piece) → FEWER pieces wins.
    val p2 = Seq(("a", 0L, -1000L), ("b", 1L, -1000L), ("ab", 2L, -2000L))
    assert(kernelIds("ab", p2, 16) == Seq(2L))
    // Equal score, equal count → lexicographically smallest padded id
    // path: "ax"+"b" (ids 3,1) vs "a"+"xb" (ids 0,4) with equal scores →
    // path 000000000004 < 000003000001 picks (a, xb).
    val p3 = Seq(("a", 0L, -1000L), ("b", 1L, -1000L), ("x", 2L, -1000L),
      ("ax", 3L, -1500L), ("xb", 4L, -1500L))
    assert(kernelIds("axb", p3, 16) == Seq(0L, 4L))
    // OOV char forced onto the hashed-OOV edge.
    val ids = kernelIds("aZb", p1, 16)
    assert(ids.head == 0L && ids.last == 1L)
    assert(ids(1) == UnigramKernel.oovId("z", 3L, 16) ||
      ids(1) == UnigramKernel.oovId("Z", 3L, 16)) // caller lowercases; raw here
  }

  test("kernel == full-enumeration argmax (structured, ties, unicode, OOV)") {
    val rnd = new scala.util.Random(7)
    val pieces = Unigram.unigramFitLocal(
      Seq(("scanscan", 5L), ("windowwin", 4L), ("winscan", 3L), ("dowdow", 2L),
        ("𝕒win𝕒", 2L), ("scanwin", 2L)),
      vocabSize = 20, maxPieceLen = 4, emRounds = 2)
    val words = Seq("scanscan", "windowwin", "winscan", "dowdow", "𝕒win𝕒",
      "scanwin", "winwindow", "scandow", "zzz", "w𝕒n", "xqj") ++
      (1 to 50).map(_ => (1 to (1 + rnd.nextInt(8)))
        .map(_ => "swindocan𝕒z".charAt(rnd.nextInt(11))).mkString)
    words.foreach { w =>
      assert(kernelIds(w, pieces, 256) == enumerate(w, pieces, 256),
        s"kernel diverged from enumeration on '$w'")
    }
  }

  test("q93 pins: pinned piece table equals a fresh fit on sf0.001") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pieces = Unigram.unigramFit(docs, "text", vocabSize = 48)
    assert(pieces == LlmQueries.UnigramPieces,
      "pinned UnigramPieces drifted from unigramFit output — rerun graft.UnigramPin")
  }

  test("unigramEncode: round-trip decode, empty docs, plan has one exchange " +
      "and no join (table rides in the kernel)") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(100)
      .unionAll(Seq((100001L, ""), (100002L, "   ")).toDF("doc_id", "text"))
    val enc = Unigram.unigramEncode(docs, "doc_id", "text",
      LlmQueries.UnigramPieces, oovBuckets = 256)
    val plan = enc.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan.take(600))
    assert(!plan.contains("Join"), plan.take(600))
    val inv = LlmQueries.UnigramPieces.map { case (p, id, _) => id -> p }.toMap
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
    assert(enc.where(col("doc_id") >= 100001L)
      .select("n_toks").collect().map(_.getLong(0)).toSeq == Seq(0L, 0L))
  }

  test("unigramFit: whole words become pieces; localThreshold refusal; " +
      "sampleFraction determinism") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // The fixture's frequent words all earn whole-word pieces.
    val multis = LlmQueries.UnigramPieces.map(_._1)
      .filter(p => p.codePointCount(0, p.length) > 1)
    assert(Set("scan", "window", "order", "sort").subsetOf(multis.toSet))
    // Vocabulary over budget → a loud refusal naming the remedy.
    val e = intercept[IllegalArgumentException] {
      graft.core.Caches.overBudget(Unigram.unigramFit(docs, "text", 48))
    }
    assert(e.getMessage.contains("sampleFraction"))
    // Sampled fit is partitioning-invariant (md5 band, not randomness).
    val a = Unigram.unigramFit(docs, "text", 32, sampleFraction = 0.5)
    val b = Unigram.unigramFit(docs.repartition(5), "text", 32,
      sampleFraction = 0.5)
    assert(a == b)
  }
}
