package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import graft.ops.Scoring

/** Driver-side oracles for the model-based scoring tier: every expected
  * value is recomputed in plain Scala (including the md5-60 bucket hash),
  * plus layout-invariance checks — the decimal-sum contract must make
  * scores bit-identical under any repartitioning. */
class ScoringSpec extends SparkSpec {

  /** Driver replica of Dedup.md5Hash60: first 15 hex chars of md5. */
  private def md5h60(s: String): Long =
    java.lang.Long.parseLong(
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15), 16)

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Exact decimal sum of already-6dp-rounded doubles — mirrors the
    * engine's DECIMAL(18,6) aggregate bit-for-bit. */
  private def decSum(xs: Seq[Double]): Double =
    xs.map(v => BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble

  /** ppm publication replica: trunc((Σ 6-dp terms)·10⁶ / n) — mirrors
    * the engine's micro-sum integral division bit-for-bit. */
  private def meanPpm(xs: Seq[Double], n: Long): Long =
    (xs.map(v => BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      .sum.bigDecimal.movePointRight(6).toBigIntegerExact
      .divide(java.math.BigInteger.valueOf(n))).longValueExact()

  test("bigramLmScore: add-1 bigram LM, driver-checked; short docs NULL") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b c"),
      (2L, "a b"),
      (3L, "solo"),          // 1 token -> no bigrams -> NULL entropy
      (4L, "")               // empty  -> NULL entropy
    ).toDF("doc_id", "text")
    val out = Scoring.bigramLmScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect()

    // Corpus bigrams: doc1 -> ab, ba, ab, bc ; doc2 -> ab.
    // c12: ab=3, ba=1, bc=1. ctx: a->3, b->2. V = {a,b,c,solo} = 4.
    def p(c12: Long, c1: Long): Double = (c12 + 1.0) / (c1 + 1.0 * 4)
    val lpAb = r6(-math.log(p(3, 3)))
    val lpBa = r6(-math.log(p(1, 2)))
    val lpBc = r6(-math.log(p(1, 2)))
    val exp1 = meanPpm(Seq(lpAb, lpBa, lpAb, lpBc), 4)
    val exp2 = meanPpm(Seq(lpAb), 1)

    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 4L), (2L, 1L), (3L, 0L), (4L, 0L)))
    assert(out(0).getLong(2) == exp1)
    assert(out(1).getLong(2) == exp2)
    assert(out(2).isNullAt(2) && out(3).isNullAt(2))
  }

  test("hashedLinearScore: broadcast weights, exact integer agg, intercept fallback") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y z"),
      (2L, "x x"),
      (3L, "")
    ).toDF("doc_id", "text")
    val b = 1024
    val weights = spark.range(b).select(col("id").as("bucket"),
      (((col("id") % 21) - 10).cast("double") / 10.0).as("weight"))
    val out = Scoring.hashedLinearScore(docs, "doc_id", "text",
      weights, buckets = b, intercept = 0.25).orderBy("doc_id").collect()

    // Mirror the engine exactly: integer micro-unit weights, one division.
    def wq(tok: String): Long = {
      val bkt = md5h60(tok) % b
      (bkt % 21 - 10) * 100000L
    }
    // signed-ppm replay: intercept_ppm + sign(S)·trunc(|S|/n)
    def sppm(s: Long, n: Long): Long =
      250000L + (if (s < 0) -1L else 1L) * (math.abs(s) / n)
    val exp1 = sppm(wq("x") + wq("y") + wq("z"), 3)
    val exp2 = sppm(2 * wq("x"), 2)
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 3L), (2L, 2L), (3L, 0L)))
    assert(out(0).getLong(2) == exp1)
    assert(out(1).getLong(2) == exp2)
    assert(out(2).getLong(2) == 250000L) // token-less doc scores intercept
    assert(out.map(_.getBoolean(3)).toSeq ==
      Seq(exp1 > 0, exp2 > 0, true))
  }

  test("langIdScore: driver-replayed argmax, sparse class competes at zero, " +
      "smallest-lang tie-break, empty doc abstains") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y z"),
      (2L, "x x"),
      (3L, "")
    ).toDF("doc_id", "text")
    val b = 1024
    // Two dense synthetic classes (q125's formula with distinct (p, q))
    // plus "aa": a class with NO weights at all — it must still compete
    // at score 0 for every doc (missing evidence is a zero vote).
    def dense(l: String, p: Long, q: Long) = spark.range(b).select(
      lit(l).as("lang"), col("id").as("bucket"),
      (((col("id") * p + q) % 21 - 10).cast("double") / 10.0).as("weight"))
    val weights = dense("de", 3, 5).unionByName(dense("en", 7, 11))
      .unionByName(Seq(("aa", -1L, 0.0)).toDF("lang", "bucket", "weight"))
    val out = Scoring.langIdScore(docs, "doc_id", "text", weights, buckets = b)
      .orderBy("doc_id").collect()
    // Driver replica: integer micro-unit sums per class, argmax by
    // (sum desc, lang asc); bucket -1 never matches a real pmod bucket.
    def sum(tokens: Seq[String], p: Long, q: Long): Long =
      tokens.map { t =>
        val bkt = md5h60(t) % b
        ((bkt * p + q) % 21 - 10) * 100000L
      }.sum
    def expect(tokens: Seq[String]): (String, Long) = {
      val scores = Seq("aa" -> 0L, "de" -> sum(tokens, 3, 5),
        "en" -> sum(tokens, 7, 11))
      val (l, sc) = scores.minBy { case (lang, s) => (-s, lang) }
      // signed-ppm replay: sign · trunc(|sum| / n)
      (l, (if (sc < 0) -1L else 1L) * (math.abs(sc) / tokens.size))
    }
    val e1 = expect(Seq("x", "y", "z")); val e2 = expect(Seq("x", "x"))
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 3L), (2L, 2L), (3L, 0L)))
    assert((out(0).getString(2), out(0).getLong(3)) == e1)
    assert((out(1).getString(2), out(1).getLong(3)) == e2)
    assert(out(2).isNullAt(2) && out(2).isNullAt(3), "empty doc must abstain")
    // Forced tie: identical weight rows under two labels — every doc's
    // sums tie and the smallest label must win deterministically.
    val tied = dense("zz", 3, 5).unionByName(dense("ab", 3, 5))
    val t = Scoring.langIdScore(docs.where($"doc_id" === 1L), "doc_id",
      "text", tied, buckets = b).collect()(0)
    assert(t.getString(2) == "ab", s"tie must break to smallest lang: $t")
  }

  test("langIdScore: bucket -1 weight rows are per-class intercepts " +
      "(score = mean + intercept, argmax shifts accordingly)") {
    import spark.implicits._
    val docs = Seq((1L, "x y")).toDF("doc_id", "text")
    val b = 64
    // identical bucket weights for both classes; only intercepts differ
    def dense(l: String) = spark.range(b).select(lit(l).as("lang"),
      col("id").as("bucket"), (col("id") % 3).cast("double").as("weight"))
    val base = dense("aa").unionByName(dense("zz"))
    val withI = base.unionByName(
      Seq(("aa", -1L, 0.25), ("zz", -1L, 0.75)).toDF("lang", "bucket", "weight"))
    val noI = Scoring.langIdScore(docs, "doc_id", "text", base, b).head()
    // tie on sums → smallest lang wins
    assert(noI.getString(2) == "aa")
    val got = Scoring.langIdScore(docs, "doc_id", "text", withI, b).head()
    // zz's intercept (750000 micros) breaks the tie and shifts the score
    assert(got.getString(2) == "zz", got.toString)
    assert(got.getLong(3) == noI.getLong(3) + 750000L, got.toString)
  }

  test("langIdFit: per-class trajectory equals hashedLinearFit on the " +
      "binarized label; the stacked model serves its own fit slice " +
      "correctly through langIdScore") {
    import spark.implicits._
    val docs = Seq(
      (1L, "der hund läuft schnell", "de"),
      (2L, "der alte hund schläft", "de"),
      (3L, "the dog runs fast", "en"),
      (4L, "the old dog sleeps", "en"),
      (5L, "le chien court vite", "fr"),
      (6L, "le vieux chien dort", "fr")).toDF("doc_id", "text", "lang")
    val B = 256
    val model = Scoring.langIdFit(docs, "doc_id", "text", "lang",
      buckets = B, epochs = 2)
    val rows = model.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // one-vs-all equality: each class's vector IS hashedLinearFit's on
    // the binarized label (same features, same integer GD)
    for (c <- Seq("de", "en", "fr")) {
      val bin = Scoring.hashedLinearFit(
        docs.withColumn("label", (col("lang") === c).cast("int")),
        "doc_id", "text", "label", buckets = B, epochs = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val ova = rows.filter(_._1 == c).map(t => (t._2, t._3)).sorted.toSeq
      assert(ova == bin, s"class $c diverges from the binary fit")
    }
    // the model serves its own (separable) fit slice correctly
    val wdf = model.select(col("lang"), col("bucket"),
      (col("weight_u").cast("double") / 1e6).as("weight"))
    val served = Scoring.langIdScore(docs, "doc_id", "text", wdf, B)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(2)))
    assert(served.toSeq == Seq((1L, "de"), (2L, "de"), (3L, "en"),
      (4L, "en"), (5L, "fr"), (6L, "fr")), served.mkString(","))
  }

  test("hashedLinearFit/langIdFit: the driver-local epoch replay equals " +
      "the distributed loop bit-for-bit (negative residuals included)") {
    import spark.implicits._
    // yu = ±1e6 with zero-initialized weights makes every positive doc's
    // first-epoch residual negative, so the truncate-toward-zero division
    // is exercised on negatives in BOTH paths.
    val docs = Seq(
      (1L, "good good fine", 1),
      (2L, "good fine fine good", 1),
      (3L, "bad poor bad", 0),
      (4L, "poor poor bad poor", 0),
      (5L, "", 1)).toDF("doc_id", "text", "label")
    val loc = Scoring.hashedLinearFitImpl(docs, "doc_id", "text", "label",
        buckets = 64, epochs = 3, lrPpm = 250000L, checkpointDir = None,
        allowLocal = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val dist = Scoring.hashedLinearFitImpl(docs, "doc_id", "text", "label",
        buckets = 64, epochs = 3, lrPpm = 250000L, checkpointDir = None,
        allowLocal = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(loc == dist, s"local=$loc\ndistributed=$dist")

    val ldocs = Seq(
      (1L, "der hund läuft schnell", "de"),
      (2L, "the dog runs fast", "en"),
      (3L, "le chien court vite", "fr"),
      (4L, "the old dog sleeps", "en")).toDF("doc_id", "text", "lang")
    def modelOf(local: Boolean) =
      Scoring.langIdFitImpl(ldocs, "doc_id", "text", "lang", buckets = 64,
          epochs = 2, lrPpm = 250000L, checkpointDir = None,
          allowLocal = local)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
    assert(modelOf(true) == modelOf(false))
  }

  test("hashedLinearFit: NULL-label docs are dropped on both paths, so " +
      "local == distributed == the fit without them") {
    import spark.implicits._
    val docs = Seq(
      (1L, "good good fine", Some(1)),
      (2L, "bad poor bad", Some(0)),
      (3L, "good bad", None),
      (4L, "fine fine good", Some(1)),
      (5L, "poor", None)).toDF("doc_id", "text", "label")
    def fit(in: org.apache.spark.sql.DataFrame, local: Boolean) =
      Scoring.hashedLinearFitImpl(in, "doc_id", "text", "label",
          buckets = 32, epochs = 3, lrPpm = 250000L, checkpointDir = None,
          allowLocal = local)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val labeled = fit(docs.where(col("label").isNotNull), local = false)
    assert(fit(docs, local = true) == labeled)
    assert(fit(docs, local = false) == labeled)
  }

  test("bradleyTerry: the driver-local MM replay equals the distributed " +
      "loop bit-for-bit") {
    import spark.implicits._
    val outcomes = Seq(
      ("a", "b"), ("a", "b"), ("b", "a"), ("a", "c"), ("c", "b"),
      ("b", "c"), ("a", "c"), ("c", "a"), ("b", "c"), ("a", "b"))
      .toDF("winner", "loser")
    def run(local: Boolean) =
      Scoring.bradleyTerryImpl(outcomes, "winner", "loser", iters = 3,
          checkpointDir = None, allowLocal = local)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
    assert(run(true) == run(false))
  }

  test("dsirWeights: target-vs-raw log ratio, driver-checked") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a b", "tgt"),
      (2L, "b c", "other"),
      (3L, "", "other")
    ).toDF("doc_id", "text", "source")
    val b = 64
    val out = Scoring.dsirWeights(docs, "doc_id", "text",
        docs.where(col("source") === "tgt"), "text", buckets = b)
      .orderBy("doc_id").collect()

    val bk = Map("a" -> md5h60("a") % b, "b" -> md5h60("b") % b,
      "c" -> md5h60("c") % b)
    // Raw instances: a,a,b,b,c (N=5); target: a,a,b (N=3).
    val cr = Seq("a", "a", "b", "b", "c").groupBy(bk).view.mapValues(_.size).toMap
    val ctm = Seq("a", "a", "b").groupBy(bk).view.mapValues(_.size).toMap
    def lr(tok: String): Double = {
      val k = bk(tok)
      r6(math.log((ctm.getOrElse(k, 0) + 1.0) / (3 + b.toDouble)) -
        math.log((cr(k) + 1.0) / (5 + b.toDouble)))
    }
    val exp1 = r6(decSum(Seq(lr("a"), lr("a"), lr("b"))))
    val exp2 = r6(decSum(Seq(lr("b"), lr("c"))))
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 3L), (2L, 2L), (3L, 0L)))
    assert(out(0).getDouble(2) == exp1)
    assert(out(1).getDouble(2) == exp2)
    assert(out(2).isNullAt(2))
  }

  test("hashedLinearScore plan: single corpus pass, broadcast weights, no join-back") {
    import spark.implicits._
    val docs = (0L until 500L).map(i => (i, s"w${i % 7} w${i % 11} w${i % 13}"))
      .toDF("doc_id", "text")
    val w = spark.range(256).select(col("id").as("bucket"),
      (col("id") % 5).cast("double").as("weight"))
    val plan = Scoring.hashedLinearScore(docs, "doc_id", "text", w, 256)
      .queryExecution.executedPlan.toString
    // The weight enrich must broadcast, and the only wide ops are the
    // explicit repartition(id) plus AQE's final-stage coalesce — a
    // SortMergeJoin or a second shuffle means the join-back crept back in.
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected 1 hash exchange, got $shuffles:\n$plan")
  }

  test("scoring is layout-invariant (decimal-sum contract)") {
    import spark.implicits._
    // 60 docs of pseudo-random tokens from a 9-word vocab — enough rows
    // per doc that a FLOAT sum would drift across partitionings.
    val vocab = "a b c d e f g h i".split(" ")
    val docs = (0L until 60L).map { i =>
      val toks = (0 until 40).map(j => vocab(((i * 31 + j * 17) % 9).toInt))
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val scrambled = docs.repartition(13)
    val a = Scoring.bigramLmScore(docs, "doc_id", "text")
    val b = Scoring.bigramLmScore(scrambled, "doc_id", "text")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val ta = Scoring.dsirWeights(docs, "doc_id", "text",
      docs.where(col("doc_id") % 3 === 0), "text", buckets = 32)
    val tb = Scoring.dsirWeights(scrambled, "doc_id", "text",
      scrambled.where(col("doc_id") % 3 === 0), "text", buckets = 32)
    assert(ta.exceptAll(tb).isEmpty && tb.exceptAll(ta).isEmpty)
  }

  test("distributionDrift: driver-replayed llr/kl per bucket, zero-count " +
      "sides smoothed, bucket set = union of both streams") {
    import spark.implicits._
    val B = 8
    val batch = Seq((1L, "a a b")).toDF("id", "text")
    val ref = Seq((2L, "a c c c"), (3L, "")).toDF("id", "text")
    val got = Scoring.distributionDrift(batch, "text", ref, "text", buckets = B)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))).toMap
    // driver replay with the same md5-60 bucket hash
    val bkt = (t: String) => md5h60(t) % B
    val cb = Seq("a", "a", "b").groupBy(bkt).map { case (k, v) => k -> v.size.toLong }
    val cr = Seq("a", "c", "c", "c").groupBy(bkt).map { case (k, v) => k -> v.size.toLong }
    val (nb, nr) = (3.0, 4.0)
    val want = (cb.keySet ++ cr.keySet).map { k =>
      val (x, y) = (cb.getOrElse(k, 0L), cr.getOrElse(k, 0L))
      val pb = (x + 1.0) / (nb + B)
      val pr = (y + 1.0) / (nr + B)
      val llr = r6(math.log(pb) - math.log(pr))
      // kl_ppm replay: sign(llr)·trunc((x+1)·|llr·10⁶| / (N_b+B))
      val lu = math.floor(llr * 1e6 + 0.5).toLong
      val kl = (if (lu < 0) -1L else 1L) *
        ((x + 1L) * math.abs(lu) / (nb.toLong + B))
      k -> ((x, y, llr, kl))
    }.toMap
    assert(got == want)
  }

  test("quantileBuckets: value-based terciles, ties never straddle a cut, " +
      "NULL scores -> NULL bucket") {
    import spark.implicits._
    // key A: scores 1,1,1,2,3,3 (n=6). t1 = min s with cum*3 >= 6 -> 1
    // (cum(1)=3, 9>=6); t2 = min s with cum*3 >= 12 -> 2 (cum(2)=4,
    // 12>=12). buckets: 1->0, 2->1, 3->2.
    // key B: all scores equal -> t1=t2=5.0 -> everything bucket 0.
    // key C: only NULL scores -> NULL buckets, no threshold row.
    val rows = Seq(
      ("A", 1L, Some(1.0)), ("A", 2L, Some(1.0)), ("A", 3L, Some(1.0)),
      ("A", 4L, Some(2.0)), ("A", 5L, Some(3.0)), ("A", 6L, Some(3.0)),
      ("A", 7L, None),
      ("B", 8L, Some(5.0)), ("B", 9L, Some(5.0)),
      ("C", 10L, None)
    ).toDF("k", "id", "s")
    val got = Scoring.quantileBuckets(rows, "k", "s", b = 3)
      .select(col("id"), col("bucket")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1)))
      .toMap
    assert(got == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 2, 6L -> 2,
      7L -> -1, 8L -> 0, 9L -> 0, 10L -> -1))
  }

  test("quantileBuckets: two-level cum == naive one-level window (and " +
      "coarse-bin resolution is result-invisible)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // deterministic pseudo-random scores across 3 keys, incl. duplicates
    val rows = (0L until 240L).map { i =>
      val k = s"k${i % 3}"
      val s = ((i * 7919) % 101).toDouble / 10.0 // dupes guaranteed
      (k, i, s)
    }.toDF("k", "id", "s")
    for (b <- Seq(2, 3, 4); bins <- Seq(1.0, 100.0)) {
      val got = Scoring.quantileBuckets(rows, "k", "s", b, coarseBins = bins)
        .select(col("id"), col("bucket"))
      // naive reference: one-level cumulative count over distinct scores
      val hist = rows.groupBy(col("k"), col("s")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("k")).orderBy(col("s"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("k"))))
      val aggs = (1 until b).map(j =>
        min(when(col("cum") * b >= col("n") * j, col("s"))).as(s"t$j"))
      val th = hist.groupBy(col("k")).agg(aggs.head, aggs.tail: _*)
      val want = rows.join(th, Seq("k"))
        .select(col("id"),
          (1 until b).map(j => when(col("s") > col(s"t$j"), 1).otherwise(0))
            .reduce(_ + _).as("bucket"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"mismatch at b=$b bins=$bins")
    }
  }

  test("calibrationBins: hand-computed reliability rows, boundary score " +
      "folds into the top bin, out-of-range scores fail loudly") {
    import spark.implicits._
    import graft.ops.Scoring
    val df = Seq((200000L, 1), (300000L, 0), (900000L, 1), (1000000L, 1))
      .toDF("score_ppm", "label")
    val got = Scoring.calibrationBins(df, "score_ppm", "label", bins = 2)
      .orderBy("bin").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq == Seq(
      // bin 0: conf 0.25, acc 0.5 -> contributes (2/4)*0.25 = 125000 ppm
      (0, 2L, 1L, 500000L, 250000L, 500000L, 125000L),
      // bin 1 (score exactly 1e6 folds in): conf 0.95, acc 1.0 -> 25000
      (1, 2L, 2L, 1900000L, 950000L, 1000000L, 25000L)))
    // ECE = sum of contributions = 0.15
    assert(got.map(_._7).sum == 150000L)
    val bad = Seq((1000001L, 1)).toDF("score_ppm", "label")
    val ex = intercept[Exception] {
      Scoring.calibrationBins(bad, "score_ppm", "label").collect()
    }
    assert(ex.getMessage.contains("out of [0, 1e6]") ||
      Option(ex.getCause).exists(_.getMessage.contains("out of [0, 1e6]")))
  }

  test("thresholdSweep: hand-computed confusion rows, empty bins densified, " +
      "degenerate thresholds report zeros") {
    import spark.implicits._
    import graft.ops.Scoring
    val df = Seq((200000L, 1), (300000L, 0), (900000L, 1), (1000000L, 1))
      .toDF("score_ppm", "label")
    val got = Scoring.thresholdSweep(df, "score_ppm", "label", bins = 2)
      .orderBy("thr_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq == Seq(
      // thr 0: everything predicted positive
      (0L, 3L, 1L, 0L, 750000L, 1000000L, 857142L),
      // thr 0.5: top bin only
      (500000L, 2L, 0L, 1L, 1000000L, 666666L, 800000L)))
    // all 4 thresholds present even when 3 bins are empty; no 0/0
    val sparse = Seq((100000L, 1)).toDF("score_ppm", "label")
    val g2 = Scoring.thresholdSweep(sparse, "score_ppm", "label", bins = 4)
      .orderBy("thr_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5),
        r.getLong(6)))
    assert(g2.toSeq == Seq(
      (0L, 1L, 1000000L, 1000000L, 1000000L),
      (250000L, 0L, 0L, 0L, 0L),
      (500000L, 0L, 0L, 0L, 0L),
      (750000L, 0L, 0L, 0L, 0L)))
    // published threshold IS the decision boundary when bins ∤ 1e6:
    // bin 1 of 3 starts at ceil(1e6/3) = 333334 — a score exactly there
    // lands in bin 1 (counted as predicted-positive at that threshold),
    // while 333333 stays in bin 0
    val edge = Seq((333334L, 1), (333333L, 0)).toDF("score_ppm", "label")
    val g3 = Scoring.thresholdSweep(edge, "score_ppm", "label", bins = 3)
      .orderBy("thr_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(g3.toSeq == Seq(
      (0L, 1L, 1L), (333334L, 1L, 0L), (666667L, 0L, 0L)))
  }

  test("hashedLinearFit: epoch recurrence independently replayed, loss " +
      "strictly decreases, fit weights serve through hashedLinearScore") {
    import spark.implicits._
    import graft.ops.Scoring
    val B = 256
    // the fixture's 4 tokens must hash to 4 DISTINCT buckets for the
    // separability assertions to mean anything (deterministic — checked,
    // not assumed)
    val tokBkt = Seq("good", "fine", "bad", "poor").toDF("t")
      .select(col("t"),
        pmod(graft.ops.Dedup.md5Hash60(col("t")), lit(B.toLong)).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tokBkt.values.toSet.size == 4, s"bucket collision: $tokBkt")
    val fixture = Seq(
      (1L, Seq("good", "good", "fine"), 1L),
      (2L, Seq("good", "fine", "fine", "good"), 1L),
      (3L, Seq("bad", "poor", "bad"), 0L),
      (4L, Seq("poor", "poor", "bad", "poor"), 0L),
      (5L, Seq.empty[String], 1L)) // intercept-only doc
    val docs = fixture.map { case (id, ts, y) => (id, ts.mkString(" "), y) }
      .toDF("doc_id", "text", "label")
    val fit = Scoring.hashedLinearFit(docs, "doc_id", "text", "label",
        buckets = B, epochs = 3, lrPpm = 250000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // independent replay of the integer recurrence (Scala Long '/'
    // truncates toward zero — same as Spark div / DuckDB //)
    val feats = fixture.map { case (id, ts, y) =>
      val cnts = ts.groupBy(tokBkt).map { case (b, g) => b -> g.size.toLong }
      val d = math.max(ts.size.toLong, 1L)
      (id, cnts + (-1L -> d), d, (2 * y - 1) * 1000000L)
    }
    var wr = feats.flatMap(_._2.keys).distinct.map(_ -> 0L).toMap
    def residuals = feats.map { case (id, cnts, d, yu) =>
      id -> (cnts.map { case (b, c) => wr(b) * c }.sum / d - yu)
    }.toMap
    def loss = { val r = residuals; r.values.map(v => BigInt(v) * v).sum }
    val losses = scala.collection.mutable.ArrayBuffer(loss)
    for (_ <- 1 to 3) {
      val r = residuals
      val g = feats.flatMap { case (id, cnts, d, _) =>
        cnts.map { case (b, c) => b -> r(id) * c / d }
      }.groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
      wr = wr.map { case (b, wu) =>
        b -> (wu - 250000L * (g.getOrElse(b, 0L) / feats.size) / 1000000L)
      }
      losses += loss
    }
    assert(fit == wr, s"fit=$fit\nreplay=$wr")
    assert(losses.sliding(2).forall(p => p(1) < p(0)), losses.toString)

    // serve the learned model through the scorer on held-out docs
    val weights = fit.toSeq.filter(_._1 >= 0)
      .map { case (b, wu) => (b, wu.toDouble / 1e6) }
      .toDF("bucket", "weight")
    val intercept = fit(-1L).toDouble / 1e6
    val held = Seq((10L, "good fine"), (11L, "poor bad"))
      .toDF("doc_id", "text")
    val served = Scoring.hashedLinearScore(held, "doc_id", "text",
        weights, buckets = B, intercept = intercept)
      .orderBy("doc_id").collect()
    assert(served(0).getBoolean(3), served(0).toString)       // good keeps
    assert(!served(1).getBoolean(3), served(1).toString)      // bad drops
    assert(served(0).getLong(2) > served(1).getLong(2))
  }

  test("cTfIdfTopTerms: hand-computed scores, rank ties by term, topN cut") {
    import spark.implicits._
    import graft.ops.Scoring
    // tf: (c1 apple 2)(c1 banana 1)(c2 banana 1)(c2 cherry 1)
    // tot 5, nc 2, A 2.5; f: apple 2, banana 2, cherry 1
    // idf6(apple)=idf6(banana)=round(ln 2.25,6)=0.81093
    // idf6(cherry)=round(ln 3.5,6)=1.252763
    val docs = Seq(("c1", "Apple apple banana"), ("c2", "banana cherry"))
      .toDF("cid", "text")
    val got = Scoring.cTfIdfTopTerms(docs, "cid", "text", topN = 10)
      .orderBy("cluster", "rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getInt(4)))
    assert(got.toSeq == Seq(
      ("c1", "apple", 2L, 1.62186, 1), ("c1", "banana", 1L, 0.81093, 2),
      ("c2", "cherry", 1L, 1.252763, 1), ("c2", "banana", 1L, 0.81093, 2)))
    // topN = 1 keeps exactly the head term per class
    val one = Scoring.cTfIdfTopTerms(docs, "cid", "text", topN = 1)
      .select("cluster", "term").orderBy("cluster").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(one.toSeq == Seq(("c1", "apple"), ("c2", "cherry")))
  }

  test("trigramLmScore: every Stupid-Backoff branch hand-computed " +
      "(seen trigram, bigram backoff, OOV floor), short docs NULL") {
    import spark.implicits._
    val ref = Seq((100L, "a b c a b d")).toDF("doc_id", "text")
    // ref counts: tri {abc,bca,cab,abd}=1; bi {"a b"->2,"b c","c a","b d"->1};
    // uni {a->2,b->2,c->1,d->1}; N=6
    val docs = Seq(
      (1L, "a b c"),  // seen trigram: p = C(abc)/C(ab) = 1/2
      (2L, "b c d"),  // tri unseen, bigram "c d" unseen, d in vocab:
                      //   p = 0.16 * C(d)/N = 0.16 * 1/6
      (3L, "x a b"),  // tri unseen, bigram "a b" seen: p = 0.4 * C(ab)/C(a)
                      //   = 0.4 * 2/2
      (4L, "q q z"),  // tri/bigram unseen, z OOV: p = 0.16 * 1/N (floor)
      (5L, "a b"))    // too short: NULL
      .toDF("doc_id", "text")
    val got = Scoring.trigramLmScore(docs, "doc_id", "text", ref, "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long])))
    assert(got.toSeq == Seq(
      (1L, 1L, Some(meanPpm(Seq(r6(-math.log(1.0 / 2.0))), 1))),
      (2L, 1L, Some(meanPpm(Seq(r6(-math.log(0.4 * 0.4 * (1.0 / 6.0)))), 1))),
      (3L, 1L, Some(meanPpm(Seq(r6(-math.log(0.4 * (2.0 / 2.0)))), 1))),
      (4L, 1L, Some(meanPpm(Seq(r6(-math.log(0.4 * 0.4 * (1.0 / 6.0)))), 1))),
      (5L, 0L, None)))
  }

  test("robustZScores: hand-computed median/MAD, degenerate MAD and null " +
      "scores publish NULL z") {
    import spark.implicits._
    val df = Seq(
      ("en", 1L, Some(1L)), ("en", 2L, Some(2L)), ("en", 3L, Some(3L)),
      ("en", 4L, Some(4L)), ("en", 5L, Some(100L)),
      ("en", 6L, None), // null score: carries thresholds, z NULL
      ("fr", 11L, Some(5L)), ("fr", 12L, Some(5L)), ("fr", 13L, Some(5L)),
      ("fr", 14L, Some(9L))) // MAD 0: no robust scale, z NULL
      .toDF("lang", "id", "v")
    val got = Scoring.robustZScores(df, "lang", "v").orderBy("id").collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(4),
        Option(r.get(5)).map(_.asInstanceOf[Long])))
    // en: median = 3 (lower median of 5), MAD = median of [2,1,0,1,97] = 1
    assert(got.take(6).toSeq == Seq(
      (1L, 3L, 1L, Some(-2000000L)), (2L, 3L, 1L, Some(-1000000L)),
      (3L, 3L, 1L, Some(0L)), (4L, 3L, 1L, Some(1000000L)),
      (5L, 3L, 1L, Some(97000000L)), (6L, 3L, 1L, None)))
    // fr: median = 5, deviations [0,0,0,4] → MAD 0 → z NULL everywhere
    assert(got.drop(6).toSeq == Seq(
      (11L, 5L, 0L, None), (12L, 5L, 0L, None), (13L, 5L, 0L, None),
      (14L, 5L, 0L, None)))
  }

  test("robustZScores: double scores route through the in-op Round6 guard " +
      "(r18 advisory) — clean 6-dp doubles score exactly, hazard raises") {
    import spark.implicits._
    // 6-dp-representable doubles: guard certifies, z replays the integer
    // fixture above scaled by 0.25 (median 0.75, MAD 0.25)
    val dd = Seq(("en", 1L, 0.25), ("en", 2L, 0.5), ("en", 3L, 0.75),
      ("en", 4L, 1.0), ("en", 5L, 25.0)).toDF("lang", "id", "v")
    val got = Scoring.robustZScores(dd, "lang", "v").orderBy("id").collect()
      .map(r => Option(r.get(5)).map(_.asInstanceOf[Long]))
    assert(got.toSeq == Seq(Some(-2000000L), Some(-1000000L), Some(0L),
      Some(1000000L), Some(97000000L)), got.mkString(","))
    // a score inside the hazard band (exactly on a 0.5e-6 HALF_UP
    // boundary) must raise, not silently quantize at the decimal cast —
    // the pre-r18 behavior the advisory flagged
    val hz = Seq(("en", 1L, 0.0000005), ("en", 2L, 1.0), ("en", 3L, 2.0))
      .toDF("lang", "id", "v")
    val ex = intercept[Exception] {
      Scoring.robustZScores(hz, "lang", "v").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++
        msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("robustZScores score")), ex.toString)
  }

  test("clusterAgreement: identical = 1/1, degenerate NULL, driver-replayed " +
      "mixed case") {
    import spark.implicits._
    def asg(xs: (Long, Long)*) = xs.toDF("id", "c")
    // identical clusterings → ARI 1, NMI 1 (published as integer ppm)
    val x = asg(1L -> 10L, 2L -> 10L, 3L -> 20L, 4L -> 20L)
    val same = Scoring.clusterAgreement(x, x, "id", "c", "c").head()
    assert(same.getLong(0) == 4L && same.getLong(1) == 1000000L &&
      same.getLong(2) == 1000000L)
    // single cluster on both sides → both metrics NULL
    val one = asg(1L -> 0L, 2L -> 0L, 3L -> 0L)
    val deg = Scoring.clusterAgreement(one, one, "id", "c", "c").head()
    assert(deg.isNullAt(1) && deg.isNullAt(2))
    // mixed case, replayed by hand: A = {1,2|3,4}, B = {1,3|2,4}
    // contingency all nij = 1 → S_ij = 0; Sa = Sb = 4; n = 4, Sn = 12
    // ARI = 2(0·12 − 16)/(8·12 − 32) = −32/64 = −0.5 → −500000 ppm
    // (trunc-toward-zero on the sign-split exact ratio)
    val a = asg(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L)
    val b = asg(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 2L)
    val got = Scoring.clusterAgreement(a, b, "id", "c", "c").head()
    assert(got.getLong(0) == 4L && got.getLong(1) == -500000L)
    // NMI: every nij·ln(n·nij/(ai·bj)) = ln(4/4) = 0 → MI 0 → NMI 0
    assert(got.getLong(2) == 0L)
  }

  test("stagedMicroDivSql: equals the one-shot (n·10⁶) div d at magnitudes " +
      "where the one-shot form overflows DECIMAL(38) (r19 headroom fix)") {
    def run(num: BigInt, den: BigInt): Long = {
      val sql = Scoring.stagedMicroDivSql(
        s"cast('$num' as decimal(38,0))", s"cast('$den' as decimal(38,0))")
      spark.sql(s"SELECT $sql AS v").head().getLong(0)
    }
    // The old failure magnitude: products ~4n⁴ at n = 10⁹ are ~4·10³⁶ —
    // the pre-r19 |num|·10⁶ needed 43 digits and raised under ANSI. The
    // staged division's largest intermediate is max(num, den)·10.
    val n = BigInt(10).pow(9)
    val num36 = 4 * n.pow(4) - 12345
    val den36 = 4 * n.pow(4) + 6789
    assert(run(num36, den36) == (num36 * 1000000 / den36).toLong)
    // ... and the one-shot form really does overflow there (the spec
    // would silently stop proving anything if DECIMAL(38) grew).
    intercept[Exception] {
      spark.sql(s"SELECT (cast('$num36' as decimal(38,0)) * 1000000)" +
        s" div cast('$den36' as decimal(38,0)) AS v").head()
    }
    // Fixed-seed sweep across magnitudes and num/den ratios (ARI's |num|
    // can exceed den — the published multiple just exceeds 10⁶). BITS,
    // up to 123 (~10³⁷), so the sweep actually reaches the DECIMAL(38)-
    // scale operands the staged division exists for; num capped at
    // 10³⁷ − 1 so num·10 (the largest staged intermediate) stays inside
    // DECIMAL(38) — the documented contract bound.
    val cap = BigInt(10).pow(37) - 1
    val rnd = new scala.util.Random(19)
    (1 to 200).foreach { _ =>
      val bits = 1 + rnd.nextInt(123)
      val den = (BigInt(bits, rnd) + 1).min(cap)
      val num = BigInt(rnd.nextInt(bits + 1), rnd).min(den * 3).min(cap)
      assert(run(num, den) == (num * 1000000 / den).toLong,
        s"num=$num den=$den")
    }
  }

  test("robustZScores lenientGuard (r19 advisory): hazard-band double " +
      "quarantines instead of aborting, clean rows score identically") {
    import spark.implicits._
    // same fixture as the guarded test, plus one hazard row (exactly on
    // a 0.5e-6 HALF_UP boundary) that the default mode raises on
    val hz = Seq(("en", 1L, 0.25), ("en", 2L, 0.5), ("en", 3L, 0.75),
      ("en", 4L, 1.0), ("en", 5L, 25.0), ("en", 6L, 0.0000005))
      .toDF("lang", "id", "v")
    intercept[Exception] { Scoring.robustZScores(hz, "lang", "v").collect() }
    val got = Scoring.robustZScores(hz, "lang", "v", lenientGuard = true)
      .orderBy("id").collect()
    val zIdx = got.head.fieldIndex("z_ppm")
    val qIdx = got.head.fieldIndex("quarantined")
    // hazard row: quarantined = 1, z NULL; its score left the multiset,
    // so the five survivors replay the guarded test's exact z values
    assert(got(5).getInt(qIdx) == 1 && got(5).isNullAt(zIdx))
    assert(got.take(5).forall(_.getInt(qIdx) == 0))
    assert(got.take(5).map(r => Option(r.get(zIdx)).map(_.asInstanceOf[Long]))
      .toSeq == Seq(Some(-2000000L), Some(-1000000L), Some(0L),
        Some(1000000L), Some(97000000L)))
    // schema stability: a lenient caller gets `quarantined` regardless of
    // the score's data type — exact scores just report all-zero
    val li = Seq(("en", 1L, 1L), ("en", 2L, 2L), ("en", 3L, 3L))
      .toDF("lang", "id", "v")
    val gotL = Scoring.robustZScores(li, "lang", "v", lenientGuard = true)
      .collect()
    assert(gotL.forall(r => r.getInt(r.fieldIndex("quarantined")) == 0))
  }

  test("bradleyTerry: driver-replayed MM rounds, more wins ranks higher, " +
      "self-play and null-keyed rows dropped") {
    import spark.implicits._
    // A beats B twice, A beats C once, B beats C once — plus junk rows
    // (self-play, null keys) that the op must drop before counting.
    val outcomes = Seq(
      (Option("A"), Option("B")), (Option("A"), Option("B")),
      (Option("A"), Option("C")), (Option("B"), Option("C")),
      (Option("A"), Option("A")),
      (Option.empty[String], Option("B")), (Option("C"), Option.empty[String]))
      .toDF("winner", "loser")
    val got = Scoring.bradleyTerry(outcomes, "winner", "loser", iters = 3)
      .orderBy("item").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // Driver replay of the exact published arithmetic: strengths in
    // integer micro-units, every per-opponent term / update / normalize
    // an integral (floor) division — no double ever divides.
    val games = Map(("A", "B") -> 2L, ("B", "A") -> 2L, ("A", "C") -> 1L,
      ("C", "A") -> 1L, ("B", "C") -> 1L, ("C", "B") -> 1L)
    val wins = Map("A" -> 3L, "B" -> 1L, "C" -> 0L)
    val items = Seq("A", "B", "C")
    val T = BigInt(1000000000000L)
    var s = items.map(_ -> BigInt(1000000L)).toMap
    for (_ <- 1 to 3) {
      val upd = items.map { i =>
        val den = items.collect { case j if games.contains((i, j)) =>
          BigInt(games((i, j))) * T / (s(i) + s(j)).max(BigInt(1)) }.sum +
          BigInt(2) * T / (s(i) + BigInt(1000000))
        i -> BigInt(wins(i) + 1) * T / den
      }.toMap
      val tot = items.map(upd).sum
      s = items.map(i => i -> upd(i) * 1000000 / tot).toMap
    }
    assert(got.toSeq == Seq(
      ("A", 3L, 3L, s("A").toLong), ("B", 3L, 1L, s("B").toLong),
      ("C", 2L, 0L, s("C").toLong)))
    assert(s("A") > s("B") && s("B") > s("C"))
  }

  test("bradleyTerry: layout-invariant (integer micro-unit contract)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val items = (0 until 12).map(i => s"m$i")
    val outcomes = (1 to 400).map { _ =>
      val a = items(rnd.nextInt(items.size))
      var b = items(rnd.nextInt(items.size))
      while (b == a) b = items(rnd.nextInt(items.size))
      (a, b)
    }.toDF("winner", "loser")
    val base = Scoring.bradleyTerry(outcomes, "winner", "loser", iters = 3)
      .orderBy("item").collect().map(r => (r.getString(0), r.getLong(3)))
    val shuffled = Scoring.bradleyTerry(outcomes.repartition(13),
        "winner", "loser", iters = 3)
      .orderBy("item").collect().map(r => (r.getString(0), r.getLong(3)))
    assert(base.toSeq == shuffled.toSeq)
  }

  test("cohenKappaPairs: perfect / opposite / hand-checked / degenerate") {
    import spark.implicits._
    // raters 1,2 always agree; rater 3 labels the complement of rater 1;
    // rater 4 is constant "x" (degenerate vs nothing here — see below)
    val items = 0 until 20
    val ratings =
      items.flatMap { i =>
        val l = if (i % 2 == 0) "x" else "y"
        val opp = if (l == "x") "y" else "x"
        Seq((i, 1L, l), (i, 2L, l), (i, 3L, opp))
      }.toDF("item", "rater", "lab")
    val got = Scoring.cohenKappaPairs(ratings, "item", "rater", "lab")
      .orderBy("rater_a", "rater_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) Long.MinValue else r.getLong(4)))
    // (1,2): perfect agreement, balanced marginals → kappa = 1
    assert(got(0) == (1L, 2L, 20L, 20L, 1000000L), got(0).toString)
    // (1,3): systematic opposite with balanced marginals → kappa = −1
    assert(got(1) == (1L, 3L, 20L, 0L, -1000000L), got(1).toString)
    assert(got(2) == (2L, 3L, 20L, 0L, -1000000L), got(2).toString)
    // hand-checked partial agreement: the classic 2×2 worked example —
    // a=10 both-yes, b=5 a-yes/b-no, c=3 a-no/b-yes, d=2 both-no:
    // po=12/20, pe=(15·13 + 5·7)/400 → kappa=(240−230)/(400−230)
    val hand = Seq.tabulate(10)(i => (100 + i, 8L, "y")) ++
      Seq.tabulate(10)(i => (100 + i, 9L, "y")) ++
      Seq.tabulate(5)(i => (110 + i, 8L, "y")) ++
      Seq.tabulate(5)(i => (110 + i, 9L, "n")) ++
      Seq.tabulate(3)(i => (115 + i, 8L, "n")) ++
      Seq.tabulate(3)(i => (115 + i, 9L, "y")) ++
      Seq.tabulate(2)(i => (118 + i, 8L, "n")) ++
      Seq.tabulate(2)(i => (118 + i, 9L, "n"))
    val h = Scoring.cohenKappaPairs(hand.toDF("item", "rater", "lab"),
      "item", "rater", "lab").head()
    assert(h.getLong(2) == 20L && h.getLong(3) == 12L)
    // signed-ppm publication: trunc(10/170 · 10⁶) = 58823
    assert(h.getLong(4) == 10L * 1000000L / 170L, h.toString)
    // negative-kappa quantization is trunc-toward-zero (sign split out):
    // opposite-with-skewed-marginals worked example — a=0, b=5, c=3, d=2:
    // num = 10·2 − (5·3 + 5·7) = −30, den = 100 − 50 = 50 → −600000
    val neg = Seq.tabulate(5)(i => (200 + i, 8L, "y")) ++
      Seq.tabulate(5)(i => (200 + i, 9L, "n")) ++
      Seq.tabulate(3)(i => (205 + i, 8L, "n")) ++
      Seq.tabulate(3)(i => (205 + i, 9L, "y")) ++
      Seq.tabulate(2)(i => (208 + i, 8L, "n")) ++
      Seq.tabulate(2)(i => (208 + i, 9L, "n"))
    val ng = Scoring.cohenKappaPairs(neg.toDF("item", "rater", "lab"),
      "item", "rater", "lab").head()
    assert(ng.getLong(4) == -600000L, ng.toString)
    // degenerate: both raters constant with identical marginals → NULL
    val const = (0 until 5).flatMap(i => Seq((i, 1L, "x"), (i, 2L, "x")))
      .toDF("item", "rater", "lab")
    val d = Scoring.cohenKappaPairs(const, "item", "rater", "lab").head()
    assert(d.getLong(3) == 5L && d.isNullAt(4))
  }

  test("ndcgAtK: perfect run, hand-replayed partial, unlabeled docs, " +
      "zero-label NULL") {
    import spark.implicits._
    // independent replay of the literal gain table (the op bakes these as
    // plan literals — StrictMath is platform-pinned by spec, so this
    // replay is exact, not a libm coincidence)
    def gain(rel: Long, pos: Int): Double =
      r6(rel.toDouble * StrictMath.log(2.0) /
        StrictMath.log((pos + 1).toDouble))
    Scoring.ndcgGainTable(3, 4).foreach { case ((r, p), g) =>
      assert(g.toDouble == gain(r.toLong, p), s"table ($r,$p)")
    }
    val qrels = Seq(("q1", "d1", 3L), ("q1", "d2", 2L), ("q1", "d3", 1L),
      ("q1", "d4", 0L), ("q2", "d1", 1L), ("q2", "d2", 0L),
      ("q3", "d1", 0L), ("q3", "d2", 0L)).toDF("q", "doc", "rel")
    // q1's run is the ideal order → ndcg exactly 1; q2 ranks an
    // UNLABELED doc first (gain 0, trec semantics) then the rel-1 doc;
    // q3 has no positive label → idcg 0 → NULL
    val runs = Seq(("q1", "d1", 1), ("q1", "d2", 2), ("q1", "d3", 3),
      ("q1", "d4", 4), ("q2", "dX", 1), ("q2", "d1", 2),
      ("q3", "d1", 1)).toDF("q", "doc", "rnk")
    // ppm replay: exact integer micros, one floor division — matches
    // the op's (dcg·10⁶) div idcg published form
    def ppm(dcg: Double, idcg: Double): Long = {
      val du = BigDecimal(dcg).setScale(6).bigDecimal
        .movePointRight(6).toBigIntegerExact
      val iu = BigDecimal(idcg).setScale(6).bigDecimal
        .movePointRight(6).toBigIntegerExact
      du.multiply(java.math.BigInteger.valueOf(1000000L))
        .divide(iu).longValueExact()
    }
    val got = Scoring.ndcgAtK(runs, "q", "doc", "rnk", qrels, "rel", k = 4)
      .orderBy("q").collect()
    assert(got(0).getString(0) == "q1" && got(0).getLong(3) == 1000000L)
    val dcg2 = decSum(Seq(gain(0L, 1), gain(1L, 2)))
    val idcg2 = decSum(Seq(gain(1L, 1), gain(0L, 2)))
    assert(got(1).getLong(3) == ppm(dcg2, idcg2), got(1).toString)
    assert(got(2).isNullAt(3), got(2).toString)
    // reordered partial case replayed term-by-term: run d2,d1,d3,d4
    val runs2 = Seq(("q1", "d2", 1), ("q1", "d1", 2), ("q1", "d3", 3),
      ("q1", "d4", 4)).toDF("q", "doc", "rnk")
    val h = Scoring.ndcgAtK(runs2, "q", "doc", "rnk",
      qrels.where(col("q") === "q1"), "rel", k = 4).head()
    val dcgH = decSum(Seq(gain(2L, 1), gain(3L, 2), gain(1L, 3), gain(0L, 4)))
    val idcgH = decSum(Seq(gain(3L, 1), gain(2L, 2), gain(1L, 3), gain(0L, 4)))
    // published as lossless micro-unit BIGINTs (moneyStr contract: no
    // DECIMAL leaves the op — the actual q171 driver-red root cause)
    def micro(x: Double): Long = BigDecimal(x).setScale(6).bigDecimal
      .movePointRight(6).longValueExact()
    assert(h.getLong(1) == micro(dcgH) &&
      h.getLong(2) == micro(idcgH), h.toString)
    assert(h.getLong(3) == ppm(dcgH, idcgH), h.toString)
    // rel beyond the literal table raises instead of silently scoring 0
    val over = Seq(("q1", "d1", 4L)).toDF("q", "doc", "rel")
    val runs3 = Seq(("q1", "d1", 1)).toDF("q", "doc", "rnk")
    val ex = intercept[Exception] {
      Scoring.ndcgAtK(runs3, "q", "doc", "rnk", over, "rel", k = 4).collect()
    }
    assert(ex.getMessage.contains("exceeds maxRel") ||
      Option(ex.getCause).exists(_.getMessage.contains("exceeds maxRel")),
      ex.toString)
  }

  test("mapMrrAtK: perfect, hand-replayed, no-hit, zero-label NULL, " +
      "absent-run query") {
    import spark.implicits._
    val qrels = Seq(
      ("q1", "d1", 1L), ("q1", "d2", 1L), ("q1", "d3", 0L),
      ("q1", "d4", 1L), ("q1", "d5", 0L),
      ("q2", "d1", 1L), ("q2", "d2", 1L), ("q2", "d4", 1L),
      ("q3", "d1", 1L), ("q3", "d3", 0L),
      ("q4", "d1", 0L), ("q4", "d2", 0L),
      ("q5", "d1", 1L)).toDF("q", "doc", "rel")
    val runs = Seq(
      // q1: miss, hit(cum1)@2, hit(cum2)@3, unlabeled@4 →
      //     psum = 1/2 + 2/3, ap = psum/min(3,4)
      ("q1", "d3", 1), ("q1", "d1", 2), ("q1", "d2", 3), ("q1", "d9", 4),
      // q2: all three positives ranked first → ap = 1, rr = 1
      ("q2", "d1", 1), ("q2", "d2", 2), ("q2", "d4", 3),
      // q3: only misses in the run → rr = 0, ap = 0 (R = 1 counts)
      ("q3", "d3", 1),
      // q4: no positive label at all → ap NULL
      ("q4", "d1", 1)).toDF("q", "doc", "rnk")
    // q5 has a positive label but NO run rows → hits 0, rr 0, ap 0
    val got = Scoring.mapMrrAtK(runs, "q", "doc", "rnk", qrels, "rel", k = 4)
      .orderBy("q").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) Long.MinValue else r.getLong(4)))
    // pure-ppm replay: terms 1·10⁶/2 = 500000, 2·10⁶/3 = 666666 (trunc),
    // ap = (500000 + 666666) / 3 = 388888 (trunc)
    val ap1 = (1000000L / 2 + 2000000L / 3) / 3
    assert(got(0) == ("q1", 3L, 2L, 500000L, ap1), got(0).toString)
    assert(got(1) == ("q2", 3L, 3L, 1000000L, 1000000L), got(1).toString)
    assert(got(2) == ("q3", 1L, 0L, 0L, 0L), got(2).toString)
    assert(got(3)._1 == "q4" && got(3)._5 == Long.MinValue, got(3).toString)
    assert(got(4) == ("q5", 1L, 0L, 0L, 0L), got(4).toString)
  }

  test("rrfFuse: exact micro-unit sums, cross-source boost, tie by doc, " +
      "topK cut") {
    import spark.implicits._
    def c(rank: Int): Long = 1000000L / (60 + rank)
    // source A ranks d1,d2,d3; source B ranks d2,d4
    val runs = Seq(
      ("q", "d1", 1), ("q", "d2", 2), ("q", "d3", 3),
      ("q", "d2", 1), ("q", "d4", 2)).toDF("q", "doc", "rnk")
    val got = Scoring.rrfFuse(runs, "q", "doc", "rnk", k = 60, topK = 3)
      .orderBy("fused_rank").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    // d2 fuses both sources: 1e6/62 + 1e6/61 — tops the single-source
    // first-ranked d1 (1e6/61); d4 (B's rank 2 → c(2)=16129) outranks
    // d3 (A's rank 3 → c(3)=15873); topK=3 cuts d3
    assert(got.toSeq == Seq(
      ("d2", c(2) + c(1), 1L), ("d1", c(1), 2L), ("d4", c(2), 3L)),
      got.mkString(","))
    val all = Scoring.rrfFuse(runs, "q", "doc", "rnk", k = 60, topK = 4)
      .orderBy("fused_rank").collect().map(_.getString(1)).toSeq
    assert(all == Seq("d2", "d1", "d4", "d3"), all.mkString(","))
  }
}
