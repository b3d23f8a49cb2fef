package graft

import graft.core.Caches.overBudget
import graft.functions.{Exprs, TextFunctions}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property-based checks: ScalaCheck generates adversarial inputs in bulk,
  * one DataFrame pass evaluates the native/codegen'd expression, and the
  * result is compared against a plain-Scala model. Catches the edge classes
  * hand-picked examples miss (empty/whitespace strings, duplicate-heavy
  * arrays, boundary numerics). */
class PropertySpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int = 200): Seq[A] =
    LazyList.continually(g.sample).flatten.take(n).toList

  test("SortedLongIntersectCount == set-model intersection size") {
    import spark.implicits._
    val g = for {
      a <- Gen.listOf(Gen.chooseNum(-50L, 50L))
      b <- Gen.listOf(Gen.chooseNum(-50L, 50L))
    } yield (a.distinct.sorted, b.distinct.sorted)
    val data = samples(g)
    val got = data.toDF("a", "b")
      .select(graft.plans.SortedLongIntersectCount(col("a"), col("b")))
      .collect().map(_.getLong(0))
    data.zip(got).foreach { case ((a, b), n) =>
      assert(n == a.toSet.intersect(b.toSet).size.toLong, s"a=$a b=$b")
    }
  }

  test("urlNormalize is idempotent and strips all tracking params") {
    import spark.implicits._
    val param = Gen.oneOf("utm_source=x", "utm_campaign=yy", "ref=r1",
      "fbclid=abc", "id=7", "q=hello", "page=2")
    val g = for {
      host <- Gen.oneOf("a.com", "www.b-site.org", "sub.c.io")
      path <- Gen.oneOf("", "/", "/p", "/a/b.html")
      ps <- Gen.listOf(param)
      frag <- Gen.oneOf("", "#top", "#sec-2")
    } yield s"https://$host$path" +
      (if (ps.isEmpty) "" else "?" + ps.mkString("&")) + frag
    val urls = samples(g)
    val once = urls.toDF("u")
      .select(TextFunctions.urlNormalize(col("u"))).collect().map(_.getString(0))
    val twice = once.toSeq.toDF("u")
      .select(TextFunctions.urlNormalize(col("u"))).collect().map(_.getString(0))
    once.zip(twice).foreach { case (a, b) => assert(a == b, s"not idempotent: $a") }
    once.foreach { u =>
      assert(!u.contains("utm_") && !u.contains("ref=") && !u.contains("fbclid") &&
        !u.contains("#"), s"tracking survived: $u")
      assert(!u.endsWith("?") && !u.endsWith("&"), s"dangling separator: $u")
    }
  }

  test("dupLineFrac == 1 - distinct/total lines, always in [0,1]") {
    import spark.implicits._
    val line = Gen.oneOf("a", "b", "aa", "x y", "", " ")
    val g = Gen.nonEmptyListOf(line).map(_.mkString("\n"))
    val texts = samples(g)
    val got = texts.toDF("t")
      .select(TextFunctions.dupLineFrac(col("t"))).collect().map(_.getDouble(0))
    texts.zip(got).foreach { case (t, f) =>
      val lines = t.split("\n", -1).toSeq
      val expect = BigDecimal((lines.size - lines.distinct.size).toDouble / lines.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(f - expect) < 1e-9, s"text=${t.replace("\n", "\\n")}")
      assert(f >= 0.0 && f <= 1.0)
    }
  }

  test("wordBigrams: size == max(tokens-1, 0), pairs adjacent") {
    import spark.implicits._
    val tok = Gen.oneOf("cat", "DOG", "x1", "a")
    val g = Gen.listOf(tok).map(_.mkString(" "))
    val texts = samples(g)
    val got = texts.toDF("t")
      .select(TextFunctions.wordBigrams(col("t"))).collect().map(_.getSeq[String](0))
    texts.zip(got).foreach { case (t, bgs) =>
      val toks = t.trim.toLowerCase.split("\\s+").toSeq.filter(_ => t.trim.nonEmpty)
      assert(bgs.size == math.max(toks.size - 1, 0), s"text='$t'")
      bgs.zipWithIndex.foreach { case (bg, i) =>
        assert(bg == s"${toks(i)} ${toks(i + 1)}", s"text='$t' i=$i")
      }
    }
  }

  test("parse_accounting: model round-trip over formatted decimals") {
    import spark.implicits._
    val g = for {
      neg <- Gen.oneOf(true, false)
      whole <- Gen.chooseNum(0L, 9999999L)
      cents <- Gen.chooseNum(0, 99)
      commas <- Gen.oneOf(true, false)
    } yield {
      val w = if (commas) f"$whole%,d" else whole.toString
      val s = f"$w.$cents%02d"
      (if (neg) s"($s)" else s, (if (neg) -1 else 1) * (whole + cents / 100.0))
    }
    val data = samples(g)
    val got = data.map(_._1).toDF("s")
      .select(Exprs.parseAccounting(col("s"))).collect()
      .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
    data.zip(got).foreach { case ((s, expect), v) =>
      assert(math.abs(v - expect) < 1e-6, s"input='$s' got=$v expect=$expect")
    }
  }

  test("containmentPairs ⊇ ngramJaccardPairs at equal threshold (random corpora)") {
    import spark.implicits._
    // containment = c/min >= c/union = jaccard, so at the same threshold
    // every Jaccard pair must surface as a containment pair — a cross-op
    // losslessness check over random dup-heavy corpora (mutated copies of
    // a small phrase pool force both shared and unshared shingles).
    val word = Gen.oneOf("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet")
    val doc = Gen.chooseNum(6, 14).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    for (trial <- 1 to 3) {
      val base = samples(doc, 12).zipWithIndex
      val docs = (base.map { case (t, i) => (i.toLong, t) } ++
        base.take(6).map { case (t, i) => (100L + i, t + " extra") })
        .toDF("doc_id", "text")
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val jac = pairSet(graft.ops.Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", shingleN = 8, threshold = 0.7))
      val cont = pairSet(graft.ops.Dedup.containmentPairs(
        docs, "doc_id", "text", shingleN = 8, threshold = 0.7))
      assert(jac.subsetOf(cont),
        s"trial $trial: jaccard pairs missing from containment: ${jac -- cont}")
    }
  }

  test("dedupKeepBest: same clusters as dedupAssign, keeper is the argmax") {
    import spark.implicits._
    // Random pair graphs: keeper-by-priority must induce the identical
    // cluster partition as keeper-by-min-id, choose exactly one keeper per
    // cluster, and that keeper must carry the cluster's max priority.
    val edge = for {
      a <- Gen.chooseNum(1L, 30L); b <- Gen.chooseNum(1L, 30L)
    } yield (a, b)
    for (trial <- 1 to 3) {
      val pairs = samples(edge, 25).filter(p => p._1 != p._2)
        .toDF("doc_a", "doc_b")
      val docs = (1L to 30L).map(i => (i, (i * 7919) % 13)).toDF("doc_id", "pri")
      val byId = graft.ops.Dedup.dedupAssign(docs.select("doc_id"), "doc_id", pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val best = graft.ops.Dedup.dedupKeepBest(docs, "doc_id", pairs, col("pri"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      // identical cluster partition (cluster ids are both component minima)
      assert(best.map(r => r._1 -> r._3).toMap == byId, s"trial $trial")
      val pri = docs.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      best.groupBy(_._3).foreach { case (cl, members) =>
        val keepers = members.filter(_._4 == 1)
        assert(keepers.length == 1, s"trial $trial cluster $cl: $members")
        assert(pri(keepers.head._1) == members.map(m => pri(m._1)).max,
          s"trial $trial cluster $cl keeper not argmax")
      }
    }
  }

  test("numericSortKey: ordering by key == ordering by numeric value") {
    import spark.implicits._
    val g = Gen.chooseNum(-1000.0, 1000.0).map(d => BigDecimal(d)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toString)
    val strs = samples(g).distinct
    val keyed = strs.toDF("s")
      .select(col("s"), Exprs.numericSortKey(col("s")).as("k"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val byKey = keyed.sortBy(_._2).map(_._1).toSeq
    val byVal = strs.sortBy(BigDecimal(_)).toSeq
    assert(byKey == byVal)
  }

  test("BPE: learn+encode round-trips random corpora; merge apply == scala model") {
    import spark.implicits._
    val word = Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))
    val doc = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpora = samples(Gen.listOfN(8, doc), 12)
    for (corpus <- corpora) {
      val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val merges = graft.ops.Export.bpeLearn(docs, "text", numMerges = 6)
      if (corpus.hashCode % 4 == 0) // distributed loop is slow — spot-check
        assert(overBudget(graft.ops.Export.bpeLearn(docs, "text", 6)) ==
          merges, s"local != distributed: $corpus")
      val vocab = graft.ops.Export.bpeVocab(docs, "text", merges)
      val inv = vocab.map(_.swap).toMap
      // Round-trip: decoded symbols rebuild each doc's space-stripped text
      // (learn corpus == encode corpus → alphabet covers every char, no OOV).
      val enc = graft.ops.Export.bpeEncode(docs, "doc_id", "text", merges,
          vocab, oovBuckets = 16)
        .collect().map(r => r.getLong(0) ->
          r.getSeq[Long](r.fieldIndex("input_ids")).map(inv).mkString).toMap
      corpus.zipWithIndex.foreach { case (t, i) =>
        val want = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString
        assert(enc(i.toLong) == want, s"corpus=$corpus doc=$i")
      }
      // Merge application against a driver-side scala model of BPE's
      // leftmost non-overlapping replay.
      def model(w: String): Seq[String] = {
        var syms = w.map(_.toString)
        for ((x, y) <- merges) {
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) {
              out += x + y; i += 2
            } else { out += syms(i); i += 1 }
          }
          syms = out.toIndexedSeq
        }
        syms
      }
      val words = corpus.flatMap(_.trim.toLowerCase.split("\\s+"))
        .filter(_.nonEmpty).distinct
      if (words.nonEmpty) {
        val got = words.toDF("w").select(col("w"),
            graft.ops.Export.bpeApplyMerges(
              graft.ops.Export.bpeInitSeq(col("w")), merges).as("s"))
          .collect().map(r => r.getString(0) ->
            r.getString(1).split(" ").toSeq.map(s => s.substring(1, s.length - 1)))
        got.foreach { case (w, syms) =>
          assert(syms == model(w), s"word=$w merges=$merges")
        }
      }
    }
  }

  /** `op` gives the same result, or fails with the same message, on its
    * driver-local fast path and over budget (its distributed loop). */
  private def sameOverBudget[A](input: Any)(op: => A): Unit = {
    def run(): Either[String, A] =
      try Right(op) catch { case e: IllegalArgumentException => Left(e.getMessage) }
    val local = run()
    val dist = overBudget(run())
    assert(local == dist, s"input=$input\nlocal=$local\nover budget=$dist")
  }

  test("connectedComponents: local == distributed on random graphs " +
      "(Long and String ids, NULL endpoints, supplementary-plane strings)") {
    import spark.implicits._
    def comps(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Dedup.connectedComponents(df, "a", "b")
        .collect().map(r => r.get(0) -> r.get(1)).toMap
    val longEdge = Gen.zip(Gen.option(Gen.chooseNum(1L, 12L)),
      Gen.option(Gen.chooseNum(1L, 12L)))
    (Seq(Nil) ++ samples(Gen.listOfN(14, longEdge), 2)).foreach { es =>
      sameOverBudget(es)(comps(es.toDF("a", "b")))
    }
    // UTF-8 byte order (Spark's) and UTF-16 order (Java's) disagree on
    // "𝕒" (U+1D552) vs "０" (U+FF10): the component minimum must not.
    val strEdge = Gen.zip(
      Gen.option(Gen.oneOf("a", "ab", "𝕒", "０", "𝕒x", "０x", "é", "")),
      Gen.option(Gen.oneOf("a", "ab", "𝕒", "０", "𝕒x", "０x", "é", "")))
    samples(Gen.listOfN(10, strEdge), 2).foreach { es =>
      sameOverBudget(es)(comps(es.toDF("a", "b")))
    }
  }

  test("hashedLinearFit: local == distributed on random labeled corpora " +
      "(NULL labels, empty text, empty frame, negative residuals)") {
    import spark.implicits._
    // Zero-initialized weights give every label-1 doc a negative first
    // residual, so truncating division runs on negatives in both paths.
    val doc = Gen.zip(
      Gen.listOf(Gen.oneOf("good", "bad", "fine", "poor", "")).map(_.mkString(" ")),
      Gen.option(Gen.oneOf(0, 1)))
    (Seq(Nil) ++ samples(Gen.listOfN(8, doc), 3)).foreach { corpus =>
      val docs = corpus.zipWithIndex.map { case ((t, y), i) => (i.toLong, t, y) }
        .toDF("doc_id", "text", "label")
      sameOverBudget(corpus)(graft.ops.Scoring.hashedLinearFit(docs, "doc_id",
          "text", "label", buckets = 16, epochs = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    }
  }

  test("langIdFit: local == distributed on random corpora with NULL " +
      "classes; a corpus with no class fails alike on both paths") {
    import spark.implicits._
    val doc = Gen.zip(
      Gen.listOf(Gen.oneOf("der", "the", "le", "hund", "dog", "")).map(_.mkString(" ")),
      Gen.option(Gen.oneOf("de", "en", "fr")))
    val noClass = Seq(("the dog", None), ("", None))
    (Seq(Nil, noClass) ++ samples(Gen.listOfN(6, doc), 2)).foreach { corpus =>
      val docs = corpus.zipWithIndex.map { case ((t, c), i) => (i.toLong, t, c) }
        .toDF("doc_id", "text", "lang")
      sameOverBudget(corpus)(graft.ops.Scoring.langIdFit(docs, "doc_id",
          "text", "lang", buckets = 16, epochs = 2)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq)
    }
  }

  test("hashedLinearFit / langIdFit: duplicate and NULL doc ids fail " +
      "alike on both paths") {
    import spark.implicits._
    val doc = Gen.zip(Gen.option(Gen.chooseNum(1L, 6L)),
      Gen.listOf(Gen.oneOf("good", "bad", "fine", "")).map(_.mkString(" ")),
      Gen.option(Gen.oneOf(0, 1)))
    val dupId = Seq((Some(1L), "good good", Some(1)), (Some(1L), "bad", Some(0)),
      (Some(2L), "fine", Some(1)))
    val nullId = Seq((None, "good", Some(1)), (Some(2L), "bad", Some(0)))
    def lin(corpus: Seq[(Option[Long], String, Option[Int])]) =
      graft.ops.Scoring.hashedLinearFit(corpus.toDF("doc_id", "text", "label"),
          "doc_id", "text", "label", buckets = 16, epochs = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def lid(corpus: Seq[(Option[Long], String, Option[Int])]) =
      graft.ops.Scoring.langIdFit(corpus.map { case (i, t, y) =>
            (i, t, y.map(c => if (c == 1) "en" else "de")) }
          .toDF("doc_id", "text", "lang"),
          "doc_id", "text", "lang", buckets = 16, epochs = 2)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
    Seq(dupId, nullId).foreach { corpus =>
      val e = intercept[IllegalArgumentException](lin(corpus))
      assert(e.getMessage.contains("doc ids must be unique and non-NULL"))
    }
    (Seq(dupId, nullId) ++ samples(Gen.listOfN(5, doc), 4)).foreach { corpus =>
      sameOverBudget(corpus)(lin(corpus))
      sameOverBudget(corpus)(lid(corpus))
    }
  }

  test("bradleyTerry: local == distributed on random outcomes " +
      "(self-play, NULL endpoints, empty input)") {
    import spark.implicits._
    val item = Gen.option(Gen.oneOf("a", "b", "c", "d", "e"))
    (Seq(Nil) ++ samples(Gen.listOfN(12, Gen.zip(item, item)), 3)).foreach { os =>
      sameOverBudget(os)(graft.ops.Scoring.bradleyTerry(
          os.toDF("winner", "loser"), "winner", "loser", iters = 3)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq)
    }
  }

  test("PqEncode/PqAdcTable: interpreted eval == codegen'd DataFrame path") {
    import spark.implicits._
    val m = 4; val ksub = 3; val dsub = 2
    val rnd = new scala.util.Random(11)
    val books = for { s <- 0 until m; c <- 0 until ksub }
      yield (s, c, Seq.fill(dsub)(rnd.nextGaussian()))
    val vecs = samples(Gen.listOfN(m * dsub,
      Gen.chooseNum(-3.0, 3.0)), 100).map(_.toSeq)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "vec")
    val viaDf = df.select(col("id"),
        graft.ops.Similarity.pqCodes(col("vec"), m * dsub, m, books).as("c"),
        graft.plans.PqQuantize.adcTable(col("vec"), books, m, ksub, dsub).as("t"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getSeq[Double](2)))
    // Interpreted path: call the expression's eval directly on each row.
    val flat = graft.plans.PqQuantize.flatten(books, m, ksub, dsub)
    viaDf.foreach { case (id, gotCodes, gotTab) =>
      val v = vecs(id.toInt)
      val wantCodes = (0 until m).map { s =>
        (0 until ksub).minBy { c =>
          (0 until dsub).map { d =>
            val diff = v(s * dsub + d) - flat((s * ksub + c) * dsub + d)
            diff * diff
          }.sum
        }
      }
      assert(gotCodes == wantCodes, s"id=$id")
      val wantTab = for { s <- 0 until m; c <- 0 until ksub } yield
        (0 until dsub).map(d => v(s * dsub + d) * flat((s * ksub + c) * dsub + d)).sum
      gotTab.zip(wantTab).foreach { case (g, w) =>
        assert(math.abs(g - w) < 1e-12, s"id=$id")
      }
    }
  }

  test("sessionize == per-key scan model on random streams, any layout") {
    import spark.implicits._
    val g = for {
      k <- Gen.oneOf("u1", "u2", "u3", "u4")
      ts <- Gen.chooseNum(0L, 200L)
    } yield (k, ts)
    val events = samples(g, 300)
    val gap = 13L
    // model: per key, sort (stable), walk assigning session ordinals
    val want = events.groupBy(_._1).flatMap { case (k, es) =>
      val sorted = es.map(_._2).sorted
      var seq = 0L
      var prev = Long.MinValue
      sorted.map { ts =>
        if (prev == Long.MinValue || ts - prev > gap) seq += 1
        prev = ts
        (k, ts) -> seq
      }
    }.toMap // ties collapse to one entry; op must agree on every row
    for (parts <- Seq(1, 7)) {
      val got = graft.ops.Ops.sessionize(
          events.toDF("k", "ts").repartition(parts), "k", "ts", gap)
        .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2)))
      assert(got.length == events.length)
      got.foreach { case (key, seq) =>
        assert(seq == want(key), s"parts=$parts key=$key")
      }
    }
  }

  test("dropRepeatedParagraphs == df-model on random corpora") {
    import spark.implicits._
    val pool = Vector("shared banner", "rare line", "alpha", "beta beta",
      "", "  ", "tail piece", "footer x")
    val docGen = Gen.nonEmptyListOf(Gen.oneOf(pool)).map(_.mkString("\n"))
    val corpus = samples(docGen, 40).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val minDf = 5L
    // model
    val paras = corpus.map { case (id, t) => id -> t.split("\n", -1).toSeq }
    val hot = paras.flatMap { case (id, ps) =>
      ps.filter(_.trim.nonEmpty).distinct.map(p => (p, id))
    }.groupBy(_._1).collect { case (p, xs) if xs.size >= minDf => p }.toSet
    val want = paras.flatMap { case (id, ps) =>
      val kept = ps.filterNot(hot)
      if (kept.isEmpty) None
      else Some(id -> ((kept.mkString("\n"),
        kept.count(_.trim.nonEmpty).toLong,
        ps.count(_.trim.nonEmpty).toLong - kept.count(_.trim.nonEmpty))))
    }.toMap
    val got = graft.ops.Text.dropRepeatedParagraphs(
        corpus.toDF("id", "text").repartition(5), "id", "text", minDf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == want)
    graft.ops.Dedup.releaseCaches()
  }

  test("histogramAuto quantiles within one derived bin width on random data") {
    import spark.implicits._
    val g = Gen.listOfN(500, Gen.chooseNum(-1000.0, 1000.0))
    samples(g, 5).foreach { xs0 =>
      val xs = xs0.sorted
      val bins = 64
      val hist = graft.ops.Sketches.histogramAuto(xs0.toDF("x"), "x", bins)
      val est = graft.ops.Sketches.histQuantilesAuto(hist, Seq(0.5, 0.9))
        .collect().map(r => r.getDouble(0) -> r.getLong(1) / 1e6).toMap
      val w = (xs.last - xs.head) / bins
      Seq(0.5, 0.9).foreach { q =>
        // the ceil(q·n)-th smallest is the element the containing-bin
        // interval (cum−cnt, cum] provably holds, so the one-bin-width
        // bound is deterministic even across empty-bin gaps
        val exact = xs((math.ceil(q * xs.length).toInt - 1).max(0))
        // +1e-6 covers the op's half-up micro-unit publication on top of
        // the w bound
        assert(math.abs(est(q) - exact) <= w + 1e-6,
          s"q=$q est=${est(q)} exact=$exact w=$w")
      }
    }
  }

  test("htmlToText: structured random pages recover exactly the content words") {
    import spark.implicits._
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "x1", "y2")
    val g = for {
      ws <- Gen.nonEmptyListOf(word)
      tag <- Gen.oneOf("p", "div", "li", "h2")
      depth <- Gen.oneOf("b", "i", "em")
      junk <- Gen.oneOf(
        "<script>var hidden=1 && a<b;</script>",
        "<style>p < q {}</style>",
        "<!-- hiddenword -->", "")
    } yield {
      val body = ws.map(w => s"<$depth>$w</$depth>").mkString(" ")
      (s"<$tag class='c'>$junk$body</$tag>", ws.mkString(" "))
    }
    val cases = samples(g, 120)
    val got = cases.map(_._1).toDF("h")
      .select(graft.ops.Html.htmlToText(col("h"))).collect()
      .map(_.getString(0))
    cases.map(_._2).zip(got).foreach { case (want, g2) =>
      // exact equality covers leakage too: want is built from the pool
      // words only, so any script/style/comment residue fails here
      assert(g2 == want, s"want=[$want] got=[$g2]")
    }
  }

  test("epochPlan == BigInt floor model on random (available, weight) tables") {
    import spark.implicits._
    val g = for {
      a <- Gen.chooseNum(0L, 5000000L)
      w <- Gen.chooseNum(0L, 1000000L)
    } yield (a, w)
    val rows = samples(g, 60).zipWithIndex
      .map { case ((a, w), i) => (f"s$i%03d", a, w) }
    val budget = 1234567L
    val maxE = 2500000L
    val got = graft.ops.Sampling.epochPlan(
        rows.map(r => (r._1, r._2)).toDF("source", "n_tok"), "source",
        "n_tok", rows.map(r => (r._1, r._3)).toDF("source", "weight_ppm"),
        budget = budget, maxEpochsPpm = maxE)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    val model = rows.sortBy(_._1).map { case (sr, a, w) =>
      val target = (BigInt(budget) * w / 1000000).toLong
      val cap = (BigInt(a) * maxE / 1000000).toLong
      val planned = math.min(target, cap)
      val epochs = if (a == 0) 0L else (BigInt(planned) * 1000000 / a).toLong
      (sr, a, w, target, planned, epochs, target - planned)
    }
    assert(got.toSeq == model)
  }

  test("thresholdSweep == suffix-sum scan model on random labeled scores") {
    import spark.implicits._
    val g = for {
      s <- Gen.chooseNum(0L, 1000000L)
      y <- Gen.oneOf(0, 1)
    } yield (s, y)
    for (bins <- Seq(2, 3, 10)) {
      val rows = samples(g, 300)
      val got = graft.ops.Scoring.thresholdSweep(
          rows.toDF("score_ppm", "label"), "score_ppm", "label", bins)
        .orderBy("thr_ppm").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))
      val bin = (s: Long) => math.min(s * bins / 1000000, bins - 1L).toInt
      val n = Array.fill(bins)(0L); val np = Array.fill(bins)(0L)
      rows.foreach { case (s, y) => n(bin(s)) += 1; np(bin(s)) += y }
      val pos = np.sum
      val model = (0 until bins).map { j =>
        val tp = (j until bins).map(np).sum
        val pp = (j until bins).map(n).sum
        // ceil threshold: the true integer decision boundary of bin j
        (((BigInt(j) * 1000000 + bins - 1) / bins).toLong, tp, pp - tp,
          pos - tp,
          if (pp == 0) 0L else tp * 1000000L / pp,
          if (pos == 0) 0L else tp * 1000000L / pos,
          if (pp + pos == 0) 0L else tp * 2000000L / (pp + pos))
      }
      assert(got.toSeq == model, s"bins=$bins")
      // operational sanity: tp never increases as the threshold rises
      assert(got.map(_._2).toSeq == got.map(_._2).sortBy(-_).toSeq)
    }
  }

  test("semDedup == brute-force model on random vector sets") {
    import spark.implicits._
    val vecGen = Gen.listOfN(4, Gen.chooseNum(-5, 5).map(_.toDouble / 5.0))
      .suchThat(v => v.exists(_ != 0.0))
    val vs = samples(vecGen, 80).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val cents = vs.take(4).map { case (i, v) => (i.toInt, v: Seq[Double]) }
    val thr = 0.8
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Seq[Double], b: Seq[Double]) =
      r6(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
    val cell = (v: Seq[Double]) =>
      cents.map { case (cid, c) => (cos(v, c), -cid) }.max._2 * -1
    val model = vs.map { case (id, v) =>
      val nd = vs.count { case (j, u) =>
        j < id && cell(u) == cell(v) && cos(u, v) >= thr }
      (id, cell(v), nd.toLong, if (nd == 0) 1 else 0)
    }
    val got = graft.ops.Similarity.semDedup(
        vs.toDF("id", "vec"), "id", "vec", cents, thr)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq == model)
  }

  test("crossSemDedup == brute-force cross model on random vector sets") {
    import spark.implicits._
    val vecGen = Gen.listOfN(4, Gen.chooseNum(-5, 5).map(_.toDouble / 5.0))
      .suchThat(v => v.exists(_ != 0.0))
    val vs = samples(vecGen, 80).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val cents = vs.take(4).map { case (i, v) => (i.toInt, v: Seq[Double]) }
    val (refs, corpus) = vs.partition(_._1 % 5 == 0)
    val thr = 0.8
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Seq[Double], b: Seq[Double]) =
      r6(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
    val cell = (v: Seq[Double]) =>
      cents.map { case (cid, c) => (cos(v, c), -cid) }.max._2 * -1
    val model = corpus.map { case (id, v) =>
      val nc = refs.count { case (_, u) =>
        cell(u) == cell(v) && cos(u, v) >= thr }
      (id, cell(v), nc.toLong, if (nc == 0) 1 else 0)
    }
    val got = graft.ops.Similarity.crossSemDedup(
        corpus.toDF("id", "vec"), refs.toDF("id", "vec"), "id", "vec",
        cents, thr)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq == model)
  }

  test("int8TopK == bruteForceTopK over the code vectors (absmax cancels)") {
    import spark.implicits._
    val vecGen = Gen.listOfN(6, Gen.chooseNum(-100, 100).map(_.toDouble / 7.0))
      .suchThat(v => v.exists(_ != 0.0))
    val vs = samples(vecGen, 60).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val df = vs.toDF("id", "vec")
    val codes = graft.ops.Similarity.scalarQuantizeInt8(df, "id", "vec")
    val got = graft.ops.Similarity.int8TopK(
        codes.where(col("id") % 7 === 0), codes, "id", k = 5)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // reference: brute-force cosine over the SAME codes as double vectors
    val codeVecs = codes.select(col("id"),
      transform(col("codes"), _.cast("double")).as("vec"))
    val exp = graft.ops.Similarity.bruteForceTopK(
        codeVecs.where(col("id") % 7 === 0), codeVecs, k = 5)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.toSeq == exp.toSeq)
  }

  test("softDedupWeights: per-cluster weight mass within floor bias of 1e6") {
    import spark.implicits._
    val g = Gen.listOfN(120, Gen.chooseNum(0L, 20L))
    val assign = samples(g, 1).head.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("doc_id", "cluster_id")
    val rows = graft.ops.Dedup.softDedupWeights(assign, "doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (_, members) =>
      val size = members.head._2
      assert(members.forall(_._2 == size))
      val mass = members.map(_._3).sum
      assert(mass <= 1000000L && mass > 1000000L - size,
        s"cluster mass $mass size $size")
    }
  }

  test("positivePairs == successor-path model on random assigns") {
    import spark.implicits._
    val g = Gen.listOfN(80, Gen.chooseNum(0L, 12L))
    val data = samples(g, 1).head.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }
    val m = 3
    val model = data.groupBy(_._2).toSeq.flatMap { case (c, mem) =>
      val ids = mem.map(_._1).sorted
      if (ids.size < 2) Seq.empty
      else for {
        i <- ids.indices
        j <- (i + 1) to math.min(i + m, ids.size - 1)
      } yield (c, ids(i), ids(j))
    }.sorted
    val got = graft.ops.Dedup.positivePairs(
        data.toDF("doc_id", "cluster_id"), "doc_id", "cluster_id", m = m)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    assert(got == model)
  }

  test("rankBiasedOverlap == tail-sum model on random rankings") {
    import spark.implicits._
    val k = 6
    val tail = graft.ops.Similarity.rboTail(k, 0.9)
    val permGen = Gen.pick(k, 0 until 20).map(_.toList)
    val queries = (1L to 30L).map(q =>
      (q, samples(permGen, 1).head, samples(permGen, 1).head))
    val runA = queries.flatMap { case (q, a, _) =>
      a.zipWithIndex.map { case (n, i) => (q, n.toLong, i + 1) } }
      .toDF("query_id", "neighbor_id", "rank")
    val runB = queries.flatMap { case (q, _, b) =>
      b.zipWithIndex.map { case (n, i) => (q, n.toLong, i + 1) } }
      .toDF("query_id", "neighbor_id", "rank")
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val model = queries.map { case (q, a, b) =>
      val mds = a.zipWithIndex.flatMap { case (n, i) =>
        val j = b.indexOf(n)
        if (j < 0) None else Some(math.max(i + 1, j + 1))
      }
      (q, r6(mds.map(md => tail(md - 1)).sum.toDouble))
    }
    val got = graft.ops.Similarity.rankBiasedOverlap(runA, runB, k, 0.9)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == model)
  }

  test("robustZScores == sort-based median/MAD model on random keyed data") {
    import spark.implicits._
    val g = for {
      key <- Gen.oneOf("a", "b", "c")
      v <- Gen.chooseNum(-50L, 50L)
    } yield (key, v)
    val data = samples(g, 300).zipWithIndex
      .map { case ((key, v), i) => (key, i.toLong, v) }
    def lowerMedian(xs: Seq[Long]): Long = {
      val s = xs.sorted
      s((s.size + 1) / 2 - 1)
    }
    val byKey = data.groupBy(_._1)
    val model = data.map { case (key, id, v) =>
      val vals = byKey(key).map(_._3)
      val med = lowerMedian(vals)
      val mad = lowerMedian(vals.map(x => math.abs(x - med)))
      // signed-ppm model: sign · trunc(|v−med|·10⁶ / mad)
      val z = if (mad == 0) None
        else {
          val sg = if (v < med) -1L else 1L
          Some(sg * (math.abs(v - med) * 1000000L / mad))
        }
      (id, med, mad, z)
    }.sortBy(_._1)
    val got = graft.ops.Scoring.robustZScores(
        data.toDF("k", "id", "v"), "k", "v")
      .orderBy("id").collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(4),
        Option(r.get(5)).map(_.asInstanceOf[Long])))
    assert(got.toSeq == model)
  }
}
