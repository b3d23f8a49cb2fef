package graft.ops

import graft.core.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM (SentencePiece-style) subword tokenization — the EM-trained
  * complement to BPE (Kudo 2018, "Subword Regularization", public
  * method): pieces carry log-probabilities and a word segments into the
  * MAP piece sequence under a Viterbi DP, rather than replaying a merge
  * history.
  *
  * Scale shape mirrors BPE's: FITTING runs on the DISTINCT-WORD frequency
  * table (vocabulary-sized — bounded by language, not corpus bytes) on
  * the driver, exactly like every public SentencePiece trainer; a
  * corpus whose vocabulary exceeds the driver learns on a deterministic
  * md5-banded sample (`sampleFraction`, same contract as
  * [[Export.bpeLearn]]). ENCODING is one map-side corpus scan through the
  * native [[graft.plans.UnigramEncodeExpr]] kernel (plan size constant in
  * vocab size), no shuffle beyond the doc-id repartition the per-doc
  * rebuild reuses. All published scores are integer micro-log-probs so
  * the q93 oracle replays the identical arithmetic. */
object Unigram {

  private def utf8Lt(a: String, b: String): Boolean =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0

  private def codepoints(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** Deterministic Viterbi-EM fit over a word-frequency table.
    *
    * 1. SEED: every codepoint substring up to `maxPieceLen`, weighted by
    *    occurrence × word count; all single codepoints are always
    *    candidates (coverage), multi-char candidates capped at
    *    8×vocabSize by (count desc, piece UTF8 asc).
    * 2. EM (`emRounds` Viterbi-EM rounds — hard-EM, deterministic): E
    *    re-segments every word with the CURRENT micro-scores through the
    *    same kernel the encoder uses (identical tie-breaks, so fit and
    *    serve can never disagree); M re-estimates counts from the used
    *    pieces. Multi-char pieces that no best path uses are dropped;
    *    single chars keep a count floor of 1 (they must stay finitely
    *    scored for coverage).
    * 3. PRUNE to `vocabSize` total (singles always survive; multis by
    *    (count desc, piece UTF8 asc)), then one final re-estimation.
    *
    * Returns (piece, id, scoreMicro): ids 0..V−1 ranked by (final count
    * desc, piece UTF8 asc); scoreMicro = round(ln(count/total)·10⁶) via
    * StrictMath.log (bit-identical across JVMs, so pins regenerate
    * stably). */
  private[graft] def unigramFitLocal(words: Seq[(String, Long)],
                                     vocabSize: Int, maxPieceLen: Int,
                                     emRounds: Int): Seq[(String, Long, Long)] = {
    require(vocabSize >= 1 && maxPieceLen >= 1 && emRounds >= 1,
      "vocabSize, maxPieceLen, emRounds must be >= 1")
    import scala.collection.mutable
    val seed = mutable.HashMap.empty[String, Long]
    words.foreach { case (w, c) =>
      val cps = codepoints(w)
      var i = 0
      while (i < cps.length) {
        var l = 1
        val sb = new StringBuilder
        while (l <= maxPieceLen && i + l <= cps.length) {
          sb.append(cps(i + l - 1))
          val p = sb.toString
          seed.update(p, seed.getOrElse(p, 0L) + c)
          l += 1
        }
        i += 1
      }
    }
    def isSingle(p: String): Boolean = p.codePointCount(0, p.length) == 1
    val singles = seed.keys.filter(isSingle).toSeq.sortWith(utf8Lt(_, _))
    def topMultis(counts: collection.Map[String, Long], limit: Int): Seq[String] =
      counts.iterator.filter(t => !isSingle(t._1)).toSeq
        .sortWith { case ((p1, c1), (p2, c2)) =>
          c1 > c2 || (c1 == c2 && utf8Lt(p1, p2))
        }.take(limit).map(_._1)
    def toScored(counts: collection.Map[String, Long],
                 pieces: Seq[String]): Seq[(String, Long, Long)] = {
      val total = pieces.iterator.map(counts).sum.toDouble
      val ranked = pieces.sortWith { (a, b) =>
        val ca = counts(a); val cb = counts(b)
        ca > cb || (ca == cb && utf8Lt(a, b))
      }
      ranked.zipWithIndex.map { case (p, i) =>
        (p, i.toLong, Math.round(StrictMath.log(counts(p) / total) * 1e6))
      }
    }
    // E-step through the SAME kernel the encoder uses.
    def viterbiCounts(scored: Seq[(String, Long, Long)]): mutable.HashMap[String, Long] = {
      val byId = scored.map(t => t._2 -> t._1).toMap
      val flat = new Array[String](scored.size * 3)
      scored.zipWithIndex.foreach { case ((p, id, sc), i) =>
        flat(3 * i) = p; flat(3 * i + 1) = id.toString; flat(3 * i + 2) = sc.toString
      }
      val table = graft.plans.UnigramKernel.buildTable(flat, 1)
      val out = mutable.HashMap.empty[String, Long]
      words.foreach { case (w, c) =>
        val ids = graft.plans.UnigramKernel.encode(UTF8String.fromString(w), table)
        var i = 0
        while (i < ids.numElements()) {
          val p = byId(ids.getLong(i))
          out.update(p, out.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      out
    }
    var counts: collection.Map[String, Long] = seed
    var multis = topMultis(seed, math.max(vocabSize * 8, 256))
    for (_ <- 1 to emRounds) {
      val used = viterbiCounts(toScored(counts, singles ++ multis))
      multis = multis.filter(p => used.getOrElse(p, 0L) > 0L)
      counts = singles.map(s => s -> math.max(used.getOrElse(s, 0L), 1L)).toMap ++
        multis.map(p => p -> used(p)).toMap
    }
    val keptMultis = topMultis(counts, math.max(vocabSize - singles.size, 0))
    val finalUsed = viterbiCounts(toScored(counts, singles ++ keptMultis))
    val stillMultis = keptMultis.filter(p => finalUsed.getOrElse(p, 0L) > 0L)
    val finalCounts: collection.Map[String, Long] =
      singles.map(s => s -> math.max(finalUsed.getOrElse(s, 0L), 1L)).toMap ++
        stillMultis.map(p => p -> finalUsed(p)).toMap
    toScored(finalCounts, singles ++ stillMultis)
  }

  /** Fit from a corpus: ONE distributed word-count aggregation (the
    * corpus-bounded part), then the driver-side EM above. Refuses
    * vocabularies over [[LocalMaxWords]] — pass `sampleFraction < 1`
    * (deterministic md5 text band, [[Export.bpeLearn]]'s contract) to
    * learn on a sample, the public-standard practice at web scale. */
  def unigramFit(docs: DataFrame, textCol: String, vocabSize: Int,
                 maxPieceLen: Int = 8, emRounds: Int = 3,
                 sampleFraction: Double = 1.0): Seq[(String, Long, Long)] = {
    val head = Caches.collectAtMost(
      Export.sampledWordCounts(docs, textCol, sampleFraction), LocalMaxWords)
    require(head.isDefined,
      s"unigramFit: distinct-word table exceeds $LocalMaxWords words; " +
        "fit on a sample (sampleFraction) — the standard practice at corpus scale")
    unigramFitLocal(head.get.map(r => (r.getString(0), r.getLong(1))).toSeq,
      vocabSize, maxPieceLen, emRounds)
  }

  /** Driver budget, in distinct words, for [[unigramFit]]'s EM. */
  private[ops] val LocalMaxWords = 1L << 20

  /** Subword-encode a corpus with a fitted piece table: per document
    * emits `n_toks` and `input_ids` (Viterbi MAP segmentation in text
    * order; hashed-OOV ids for learn-time-unseen chars — the
    * vocabEncode/bpeEncode contract). Same one-scan shape as
    * [[Export.bpeEncode]]: doc-id repartition BEFORE the explodes (the
    * per-doc rebuild groups in-partition), segmentation is map-side
    * native-kernel compute, no vocab join at all (the table rides inside
    * the kernel). */
  def unigramEncode(docs: DataFrame, idCol: String, textCol: String,
                    pieces: Seq[(String, Long, Long)],
                    oovBuckets: Int): DataFrame = {
    require(oovBuckets >= 1, "oovBuckets must be >= 1")
    val words = docs.repartition(col(idCol))
      .select(col(idCol),
        posexplode_outer(split(lower(trim(col(textCol))), "\\s+"))
          .as(Seq("_wp", "_w")))
      .withColumn("_w",
        when(col("_w") === "", lit(null: String)).otherwise(col("_w")))
    val ids = words.select(col(idCol), col("_wp"),
      posexplode_outer(graft.plans.UnigramEncode(col("_w"), pieces, oovBuckets))
        .as(Seq("_sp", "_id")))
    ids.groupBy(col(idCol))
      .agg(count(col("_id")).as("n_toks"),
        transform(
          sort_array(collect_list(when(col("_id").isNotNull,
            struct(col("_wp"), col("_sp"), col("_id"))))),
          s => s.getField("_id")).as("input_ids"))
  }
}
