package graft.ops

import graft.core.{Caches, Rounds}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Training-data EXPORT operators: the last mile between a cleaned corpus
  * and what a pretraining job actually reads — a deterministically
  * shuffled, evenly sharded, sequence-packed layout.
  *
  * Both ops are seeded and replayable: the "randomness" is md5 over
  * `"<seed>:<id>"`, so a re-run (or an independent engine — the DuckDB
  * oracles replay the exact same bytes) produces the identical layout,
  * and a task retry can never scramble the order the training job sees.
  */
object Export {

  /** md5-derived 60-bit pseudo-random key for `"<seed>:<id>"` — the
    * deterministic stand-in for a random draw, replayable cross-engine
    * (`CAST('0x' || substr(md5(...), 1, 15) AS BIGINT)` in DuckDB). */
  private def md5Key60(idCol: String, seed: Long) =
    conv(substring(md5(concat(lit(s"$seed:"),
      col(idCol).cast("string")).cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** Deterministic seeded corpus shuffle + shard assignment: adds
    * `shard` (0..numShards-1) and `pos` (0-based write position within
    * the shard) such that reading shards round-robin replays the global
    * shuffled order. Training pipelines need exactly this before export:
    * document order decorrelated from ingestion order (no
    * crawl-locality / time-locality runs in a training batch), split
    * into evenly sized shards.
    *
    * Scale shape: ONE range exchange — the sort by the md5 key IS the
    * shuffle product — and the global rank comes from
    * [[Ops.globalRowNumber]] (partition-ordinal bit-split + broadcast
    * offsets), not a single-task window. Round-robin on the rank makes
    * shard sizes differ by at most 1 doc (a hash-mod shard has binomial
    * skew instead), and `pos` is already the within-shard write order:
    * `df.write.partitionBy("shard")` after a `repartition(shard) +
    * sortWithinPartitions(pos)` lays files out exactly as the training
    * job reads them. */
  def shuffleShards(df: DataFrame, idCol: String, seed: Long,
                    numShards: Int): DataFrame = {
    require(numShards >= 1, "numShards must be >= 1")
    val ranked = Ops.globalRowNumber(
      df.withColumn("_sk", md5Key60(idCol, seed)),
      Seq(col("_sk"), col(idCol)), "_rank")
    ranked
      .withColumn("shard", (col("_rank") - 1) % numShards)
      .withColumn("pos", floor((col("_rank") - 1) / numShards).cast("long"))
      .drop("_sk", "_rank")
  }

  /** Token-budget head selection: keep the best documents — by
    * (`scoreCol` desc, id asc), a total order — whose INCLUSIVE running
    * token sum stays within `budget`. The "give me the top N tokens of
    * the corpus by quality" step that sizes a training mix; emits
    * `cum_tokens` (the running total through this doc) alongside the
    * caller's columns.
    *
    * Scale shape: a global running sum is ordinarily a single-task
    * window (`ORDER BY` with no partition) — the classic 100 TB
    * bottleneck. This is instead the [[Ops.globalRowNumber]] recipe
    * generalized from counts to weighted sums: ONE pinned-count range
    * exchange on the sort key, per-partition token TOTALS aggregated
    * from the persisted sorted frame (#partitions rows), their running
    * offsets a tiny single-task window, broadcast back, and the
    * within-partition running sum folded sequentially per partition
    * (order is the in-partition sort order — deterministic under retry
    * because the sort key is total and the frame is persisted, so the
    * partition-id bits in `_mid` are data, not recomputation). Project
    * narrow columns (id, tokens, score) before calling at scale — the
    * range exchange carries every column you pass. */
  def takeTokenBudget(df: DataFrame, idCol: String, tokensCol: String,
                      scoreCol: String, budget: Long): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    val spark = df.sparkSession
    val parts = math.max(
      spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism)
    val ord = Seq(col(scoreCol).desc, col(idCol).asc)
    // Pinned partition count + pin + pid-from-_mid-as-data: the same
    // correctness triad as globalRowNumber (see the graveyard notes there —
    // sibling-branch range exchanges do NOT bucket identically).
    val ranked = Caches.pin(df.repartitionByRange(parts, ord: _*)
      .sortWithinPartitions(ord: _*)
      .withColumn("_mid", monotonically_increasing_id()))
    val sums = ranked
      .groupBy(shiftrightunsigned(col("_mid"), 33).as("_pid"))
      .agg(sum(col(tokensCol)).as("_ptok"))
    // Unpartitioned but PARTITION-COUNT-BOUNDED: `sums` has one row per
    // range partition (32 locally, a few thousand on a real cluster) —
    // the globalRowNumber offsets contract.
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("_pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = sums.select(col("_pid"),
      coalesce(sum(col("_ptok")).over(w), lit(0L)).as("_off"))
    val joined = ranked
      .withColumn("_pid", shiftrightunsigned(col("_mid"), 33))
      .join(broadcast(offsets), Seq("_pid"), "left")
      .withColumn("_off", coalesce(col("_off"),
        raise_error(concat(lit("takeTokenBudget: no offset for partition "),
          col("_pid").cast("string"))).cast("long")))
      // Defensive re-sort: the fold below REQUIRES in-partition sort
      // order. Today the broadcast join + projections preserve the range
      // sort, so RemoveRedundantSorts plans this as a no-op (ExportSpec
      // asserts exactly that); if a future planner change ever stops
      // preserving the ordering, this materializes as a real sort instead
      // of silently corrupting the running sum.
      .sortWithinPartitions(ord: _*)
    val outSchema = joined.drop("_pid", "_mid", "_off").schema
      .add("cum_tokens", LongType)
    val tokIdx = joined.schema.fieldIndex(tokensCol)
    val offIdx = joined.schema.fieldIndex("_off")
    val dropIdx = Set(joined.schema.fieldIndex("_pid"),
      joined.schema.fieldIndex("_mid"), offIdx)
    joined.mapPartitions { rows =>
      // Rows arrive in the in-partition sort order (broadcast join and
      // projections are narrow); every row of a partition carries the same
      // _off. The inclusive running sum crosses `budget` exactly once, so
      // the tail is dropped here — only the kept prefix leaves the task.
      var cum = -1L
      rows.flatMap { r =>
        if (cum == -1L) cum = r.getLong(offIdx)
        cum += r.getLong(tokIdx)
        if (cum <= budget)
          Some(Row.fromSeq(r.toSeq.zipWithIndex
            .collect { case (v, i) if !dropIdx(i) => v } :+ cum))
        else None
      }
    }(Encoders.row(outSchema))
  }

  /** Greedy sequence packing: assign each document to a training
    * sequence of at most `capacity` tokens — the packing step every
    * pretraining pipeline runs so short documents don't waste context
    * window. Documents are dealt to `numShards` shards by seeded md5
    * hash, then packed first-fit IN ID ORDER within each shard: a new
    * sequence starts whenever the running fill would exceed `capacity`
    * (a document longer than `capacity` gets a sequence of its own).
    * Adds `shard`, `seq` (0-based within shard) and `seq_offset` (token
    * offset of this doc inside its sequence). Downstream, the actual
    * packed rows are a `groupBy(shard, seq)` concat ordered by
    * `seq_offset`.
    *
    * Scale shape: the only exchange is the hash shuffle on `shard`, and
    * it carries whatever the caller projected — pass (id, tokens) and
    * join the assignment back by id rather than shuffling text. The
    * first-fit fold is inherently sequential PER SHARD (each bin
    * boundary depends on every prior doc in the shard — not a window,
    * a recursion), so parallelism = numShards: pick it at least the
    * cluster's core count and each task folds O(corpus/numShards) rows
    * with zero driver involvement. Determinism under retry: shard
    * contents are a pure hash partition and the in-partition sort is by
    * (shard, id) — a total order — so recomputed tasks rebuild byte-
    * identical packings. */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    capacity: Long, numShards: Int,
                    seed: Long = 42L): DataFrame = {
    require(capacity >= 1, "capacity must be >= 1")
    require(numShards >= 1, "numShards must be >= 1")
    val pre = df
      .withColumn("shard", pmod(md5Key60(idCol, seed), lit(numShards.toLong)))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col(idCol))
    val outSchema = pre.schema.add("seq", LongType).add("seq_offset", LongType)
    val shardIdx = pre.schema.fieldIndex("shard")
    val tokIdx = pre.schema.fieldIndex(tokensCol)
    pre.mapPartitions { rows =>
      // One partition may hold several shards (hash-partitioned); rows
      // arrive sorted by (shard, id), so a shard change resets the fold.
      var curShard = -1L
      var fill = 0L
      var seq = -1L
      rows.map { r =>
        val shard = r.getLong(shardIdx)
        val tok = r.getLong(tokIdx)
        if (shard != curShard) { curShard = shard; seq = 0L; fill = tok }
        else if (fill + tok > capacity) { seq += 1L; fill = tok }
        else fill += tok
        Row.fromSeq(r.toSeq :+ seq :+ (fill - tok))
      }
    }(Encoders.row(outSchema))
  }

  /** Word-level vocabulary encoding — the tokenize-to-ids step of the
    * export path: build the corpus vocabulary (the `vocabSize` most
    * frequent tokens, ties broken lexically — a deterministic total
    * order), assign ids 0..V−1 in rank order, and map every other token
    * to a stable OOV id V + (md5-60(token) mod `oovBuckets`) (the hashing
    *-trick fallback, so rare tokens stay distinguishable without an
    * unbounded vocab). Output: the id column, `n_toks`, and `input_ids`
    * (array<long> in original token order; empty for token-less docs).
    *
    * Scale shape: vocabulary selection is the salted two-phase top-k
    * ([[Sampling.topKPerStratum]] with one stratum) — a web-scale
    * distinct-token table never sorts in a single task; only the V
    * survivors (dim-sized by the caller's choice of V) pay the final
    * rank window, and the finished vocab is broadcast into the encode
    * pass, which is one corpus scan: posexplode keeps the position,
    * the per-doc array rebuild is an in-place sort_array(collect_list)
    * after the id repartition — token rows never shuffle. */
  def vocabEncode(docs: DataFrame, idCol: String, textCol: String,
                  vocabSize: Int, oovBuckets: Int): DataFrame = {
    require(vocabSize >= 1, "vocabSize must be >= 1")
    require(oovBuckets >= 1, "oovBuckets must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("_tok"))
      .where(col("_tok") =!= "")
      .groupBy(col("_tok")).agg(count(lit(1)).as("_c"))
      .withColumn("_one", lit(1))
    val topV = Sampling.topKPerStratum(counts, "_one", "_tok", vocabSize,
      Seq(col("_c").desc))
    val vocab = topV
      .withColumn("_tid",
        row_number().over(Window.partitionBy(col("_one"))
          .orderBy(col("_c").desc, col("_tok"))).cast("long") - 1L)
      .select(col("_tok"), col("_tid"))
    val enc = docs.repartition(col(idCol))
      .select(col(idCol),
        posexplode_outer(split(lower(trim(col(textCol))), "\\s+"))
          .as(Seq("_p", "_tok")))
      .withColumn("_tok",
        when(col("_tok") === "", lit(null: String)).otherwise(col("_tok")))
      .join(broadcast(vocab), Seq("_tok"), "left")
      .withColumn("_id", when(col("_tok").isNull, lit(null: java.lang.Long))
        .otherwise(coalesce(col("_tid"),
          lit(vocabSize.toLong) + pmod(Dedup.md5Hash60(col("_tok")),
            lit(oovBuckets.toLong)))))
    enc.groupBy(col(idCol))
      .agg(count(col("_tok")).as("n_toks"),
        transform(
          sort_array(collect_list(
            when(col("_id").isNotNull, struct(col("_p"), col("_id"))))),
          s => s.getField("_id")).as("input_ids"))
  }

  // ── Subword (BPE) tokenization ──────────────────────────────────────
  //
  // Byte-pair encoding over the word-frequency table (Sennrich et al.,
  // "Neural Machine Translation of Rare Words with Subword Units", 2016 —
  // public method): start from characters, repeatedly merge the most
  // frequent adjacent symbol pair. The symbol sequence of a word is
  // represented as a SINGLE STRING — symbols wrapped in a U+001F marker
  // and joined by spaces ("h" "e" → "<1F>h<1F> <1F>e<1F>") — so
  // that applying one merge is one codegen'd `replace` (leftmost, non-
  // overlapping — exactly BPE's application order) and the whole merge
  // table is a fold of M nested replaces inside whole-stage codegen. The
  // marker makes pair patterns unambiguous: without it, multi-char
  // symbols could substring-match across symbol boundaries. The identical
  // replace chain is replayable in ANSI SQL (`replace` has the same
  // leftmost non-overlapping semantics in DuckDB), which is what the q91
  // oracle does.

  /** Symbol-boundary marker. U+001F (unit separator) — a control char
    * that whitespace-split tokens cannot contain (it IS whitespace-free
    * but never appears in text because `\s+`-split tokens keep it only if
    * the corpus contained it; real corpora don't, and a stray occurrence
    * only costs a spurious never-matching pattern, not corruption). */
  val BpeSep = "\u001F"

  /** A lowercased word → its initial marker-string symbol sequence. */
  def bpeInitSeq(word: Column): Column =
    array_join(transform(split(word, ""),
      c => concat(lit(BpeSep), c, lit(BpeSep))), " ")

  /** Apply a learned merge table (in learned order) to a marker-string
    * symbol sequence — M nested `replace`s, fully codegen'd. This is the
    * ORACLE-REPLAYABLE form (the identical chain runs in ANSI SQL) and
    * the only form that accepts arbitrary (non-learned) merge tables; its
    * M-deep expression tree caps it at a few hundred merges, so the
    * production encode path is [[graft.plans.BpeApply]] — a native kernel
    * whose plan size is constant in M and which BpeSpec proves byte-equal
    * on learned tables. */
  def bpeApplyMerges(seqCol: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(seqCol) { case (acc, (x, y)) =>
      replace(acc, lit(s"$BpeSep$x$BpeSep $BpeSep$y$BpeSep"),
        lit(s"$BpeSep$x$y$BpeSep"))
    }

  /** Learn a BPE merge table: `numMerges` rounds of "count adjacent
    * symbol pairs weighted by word frequency, merge the argmax". Ties
    * break lexically on the pair string — a deterministic total order, so
    * two runs (or two engines) learn byte-identical tables.
    *
    * Scale shape: learning runs over the DISTINCT-WORD frequency table
    * (vocabulary-sized — bounded by language, not corpus bytes; it fits a
    * cluster easily at 100 TB of text where the raw corpus does not).
    * Each round is one distributed pair-count aggregation over that table
    * plus a driver-side top-1 (`orderBy.limit(1)` — TakeOrderedAndProject,
    * a per-partition top-1 + driver merge, never a global sort) and one
    * map-only `replace`. The sequential round loop is inherent to BPE
    * (each merge depends on the last); per-round cost is one scan of the
    * word table. The evolving table is localCheckpointed EVERY round (an
    * [[graft.core.Rounds.upTo]] loop; the last merge's table, which no
    * round reads, stays lazy) —
    * lineage truncation is mandatory here, not an optimization: a chain
    * of persisted frames nests each round's cached plan inside the next
    * (InMemoryRelation embeds its child tree), and by a few dozen rounds
    * the plan string alone OOMs the driver. A per-round checkpoint of a
    * vocab-sized table is cheap at any corpus scale; the previous round's
    * checkpoint is unpinned once the next is materialized.
    * `minPairCount` stops learning when the best pair is rarer than the
    * floor (default 2 — merging hapax pairs adds vocab entries that can
    * never generalize).
    *
    * SCALE CONTRACT (the merge-COUNT dimension): the distributed loop
    * pays one Spark job + one localCheckpoint PER MERGE ROUND by
    * necessity (BPE is sequential), so a 32k-merge vocabulary over a
    * genuinely driver-exceeding word table (10⁸+ distinct words) is
    * days of job latency — that loop is the correctness backstop, not
    * the production path. Production practice (every public tokenizer
    * pipeline does this) is to LEARN ON A SAMPLE and apply to the full
    * corpus: pass `sampleFraction < 1` to learn from a deterministic
    * md5-banded document sample (replayable — the band is a pure
    * function of the text, not runtime randomness), which shrinks the
    * distinct-word table under [[BpeLocalMaxWords]] so the incremental
    * driver loop (minutes at 30k merges on a 10⁶-word vocabulary) takes
    * over. Applying the learned table to 100 TB stays one map-side scan
    * regardless ([[bpeEncode]]). */
  def bpeLearn(docs: DataFrame, textCol: String, numMerges: Int,
               minPairCount: Long = 2L,
               sampleFraction: Double = 1.0): Seq[(String, String)] = {
    require(numMerges >= 0, "numMerges must be >= 0")
    val wordCounts = sampledWordCounts(docs, textCol, sampleFraction)
    // Small-vocabulary fast path (the same driver-sized-by-design budget
    // as connectedComponents'): the per-round state is the
    // DISTINCT-WORD table, and when it fits the driver the in-memory loop
    // replays the identical algorithm without paying a Spark job (+ a
    // localCheckpoint) per merge round — at 32 merges over 100k docs that
    // is 50 s distributed vs well under a second local, and a 30k-merge
    // production vocab is only reachable this way. The distributed loop
    // below stays the web-scale path (a 10⁸-distinct-word multilingual
    // corpus exceeds any driver).
    val head = Caches.collectAtMost(wordCounts, BpeLocalMaxWords)
    if (head.isDefined) return bpeLearnLocal(
      head.get.map(r => (r.getString(0), r.getLong(1))).toSeq,
      numMerges, minPairCount)
    // Over budget: fall through (the probe is bounded, not corpus-sized).
    val words = wordCounts.select(bpeInitSeq(col("_w")).as("_seq"), col("_c"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    Caches.scoped {
      Rounds.upTo(words, numMerges, "bpe") { cur =>
        val syms = split(col("_seq"), " ")
        val best = cur
          .select(explode(zip_with(
            slice(syms, lit(1), size(syms) - 1),
            slice(syms, lit(2), size(syms) - 1),
            (a, b) => concat(a, lit(" "), b))).as("_pair"), col("_c"))
          .groupBy(col("_pair")).agg(sum(col("_c")).as("_n"))
          .orderBy(col("_n").desc, col("_pair").asc)
          .limit(1).collect()
        best.headOption.filter(_.getLong(1) >= minPairCount).map { b =>
          val pairStr = b.getString(0)
          val parts = pairStr.split(" ")
          val x = parts(0).substring(1, parts(0).length - 1)
          val y = parts(1).substring(1, parts(1).length - 1)
          merges += ((x, y))
          cur.withColumn("_seq",
            replace(col("_seq"), lit(pairStr), lit(s"$BpeSep$x$y$BpeSep")))
        }
      }
    }
    merges.toSeq
  }

  /** The (_w, _c) distinct-word table [[bpeLearn]] and
    * [[Unigram.unigramFit]] fit on, over the md5-banded document sample
    * when `sampleFraction < 1`. */
  private[ops] def sampledWordCounts(docs: DataFrame, textCol: String,
                                     sampleFraction: Double): DataFrame = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      "sampleFraction must be in (0, 1]")
    val base =
      if (sampleFraction >= 1.0) docs
      else docs.where(pmod(Dedup.md5Hash60(col(textCol)), lit(1000000L)) <
        lit(math.round(sampleFraction * 1e6)))
    base
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("_w"))
      .where(col("_w") =!= "")
      .groupBy(col("_w")).agg(count(lit(1)).as("_c"))
  }

  /** Driver budget, in distinct words, for [[bpeLearn]]'s in-memory loop. */
  private[ops] val BpeLocalMaxWords = 1L << 20

  /** Codepoint-wise initial symbols of a word (Spark's `split(w, "")` is
    * a regex split, which never cuts a surrogate pair). */
  private def initSyms(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** Batch leftmost non-overlapping merge of (x, y) → xy in one word's
    * symbol array — the distributed loop's `replace` semantics. Returns
    * the same array instance when the pair is absent. */
  private def mergeWordSyms(syms: Array[String], x: String,
                            y: String): Array[String] = {
    var has = false
    var i = 0
    while (!has && i + 1 < syms.length) {
      has = syms(i) == x && syms(i + 1) == y; i += 1
    }
    if (!has) syms
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var j = 0
      while (j < syms.length) {
        if (j + 1 < syms.length && syms(j) == x && syms(j + 1) == y) {
          out += x + y; j += 2
        } else { out += syms(j); j += 1 }
      }
      out.toArray
    }
  }

  /** The distributed loop's tie-break key: the MARKER PAIR STRING under
    * Spark's UTF8 BINARY ordering, which disagrees with Java's UTF-16
    * `compareTo` on supplementary-plane symbols (the same trap
    * connectedComponents' local fast path documents). */
  private def pairKey(p: (String, String)): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      s"$BpeSep${p._1}$BpeSep $BpeSep${p._2}$BpeSep")

  /** The driver-side twin of the distributed learn loop — MUST replay it
    * byte-for-byte (BpeSpec asserts equality under `Caches.overBudget`):
    * same codepoint-wise initial symbols, same weighted pair counts, same
    * UTF8-binary tie-break. This is the INCREMENTAL form: per round, only
    * the words containing the merged pair are touched (their old pair
    * contributions retracted, the merge applied, new contributions
    * added), and the argmax comes from a lazily-invalidated heap — so a
    * 30k-merge vocabulary costs minutes where the full per-round recount
    * ([[bpeLearnLocalRecount]], kept as the spec's reference twin) costs
    * hours. Memory: a pair → word-index occurrence index alongside the
    * counts, ~O(total symbols) — a 10⁶-distinct-word vocabulary fits a
    * few GB of driver heap, the same driver-sized budget as the word
    * table itself. */
  private[graft] def bpeLearnLocal(words: Seq[(String, Long)], numMerges: Int,
                                   minPairCount: Long): Seq[(String, String)] = {
    import org.apache.spark.unsafe.types.UTF8String
    import scala.collection.mutable
    val syms: Array[Array[String]] = words.map(w => initSyms(w._1)).toArray
    val cnts: Array[Long] = words.map(_._2).toArray
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    // Heap of (count-at-push, tie-key, pair) with lazy invalidation: an
    // entry is live iff its recorded count equals the pair's CURRENT
    // count (every count change pushes a fresh entry, so every current
    // positive count has a live entry; stale ones are discarded at pop).
    final case class Entry(count: Long, key: UTF8String, pair: (String, String))
    val heap = new java.util.PriorityQueue[Entry](
      new java.util.Comparator[Entry] {
        def compare(a: Entry, b: Entry): Int = {
          val byCount = java.lang.Long.compare(b.count, a.count) // desc
          if (byCount != 0) byCount else a.key.compareTo(b.key)  // asc
        }
      })
    def retract(i: Int, changed: mutable.HashSet[(String, String)]): Unit = {
      val w = syms(i); val c = cnts(i)
      var j = 0
      val seen = mutable.HashSet.empty[(String, String)]
      while (j + 1 < w.length) {
        val p = (w(j), w(j + 1))
        val n = pairCount(p) - c
        if (n == 0L) pairCount.remove(p) else pairCount(p) = n
        changed += p
        if (seen.add(p)) {
          val s = pairWords(p); s -= i; if (s.isEmpty) pairWords.remove(p)
        }
        j += 1
      }
    }
    def contribute(i: Int, changed: mutable.HashSet[(String, String)]): Unit = {
      val w = syms(i); val c = cnts(i)
      var j = 0
      while (j + 1 < w.length) {
        val p = (w(j), w(j + 1))
        pairCount(p) = pairCount.getOrElse(p, 0L) + c
        changed += p
        pairWords.getOrElseUpdate(p, mutable.HashSet.empty) += i
        j += 1
      }
    }
    val seed = mutable.HashSet.empty[(String, String)]
    var i = 0
    while (i < syms.length) { contribute(i, seed); i += 1 }
    seed.foreach(p => heap.add(Entry(pairCount(p), pairKey(p), p)))
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      var top: Entry = null
      while (top == null && !heap.isEmpty) {
        val e = heap.poll()
        if (pairCount.getOrElse(e.pair, 0L) == e.count) top = e
      }
      if (top == null || top.count < minPairCount) exhausted = true
      else {
        val (x, y) = top.pair
        merges += ((x, y))
        val touched = pairWords.get((x, y)).map(_.toArray).getOrElse(Array.empty)
        val changed = mutable.HashSet.empty[(String, String)]
        touched.foreach { w =>
          retract(w, changed)
          syms(w) = mergeWordSyms(syms(w), x, y)
          contribute(w, changed)
        }
        changed.foreach { p =>
          pairCount.get(p).foreach(c => heap.add(Entry(c, pairKey(p), p)))
        }
        round += 1
      }
    }
    merges.toSeq
  }

  /** Full-recount reference twin of [[bpeLearnLocal]]: recounts every
    * pair every round. O(words·len) per round — hours at a 30k-merge
    * production vocabulary, which is why the incremental form above is
    * the shipped path; this one exists so BpeSpec can assert the two are
    * byte-equal (the incremental index/heap bookkeeping has no oracle of
    * its own). */
  private[graft] def bpeLearnLocalRecount(words: Seq[(String, Long)],
                                          numMerges: Int,
                                          minPairCount: Long): Seq[(String, String)] = {
    var seqs: Array[(Array[String], Long)] =
      words.map { case (w, c) => (initSyms(w), c) }.toArray
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      seqs.foreach { case (syms, c) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val best = counts.toSeq.reduceLeft { (a, b) =>
          if (b._2 > a._2 ||
              (b._2 == a._2 && pairKey(b._1).compareTo(pairKey(a._1)) < 0)) b
          else a
        }
        if (best._2 < minPairCount) exhausted = true
        else {
          val (x, y) = best._1
          merges += ((x, y))
          seqs = seqs.map { case (s, c) => (mergeWordSyms(s, x, y), c) }
          round += 1
        }
      }
    }
    merges.toSeq
  }

  /** The vocabulary a merge table induces: every base character of the
    * corpus (ranked by corpus frequency desc, then codepoint-string asc —
    * a total order) gets ids 0..A−1, then each merge product gets the
    * next id in merge order (a product textually equal to an existing
    * entry — e.g. (a,bc)→abc after (ab,c)→abc — keeps the first id).
    * Returned driver-side: the alphabet is bounded by the writing system
    * (hundreds to a few thousand symbols), the same driver-sized-boundary
    * class as the IVF centroid literals, and the encode pass broadcasts
    * it. */
  def bpeVocab(docs: DataFrame, textCol: String,
               merges: Seq[(String, String)]): Seq[(String, Long)] = {
    val alphabet = docs
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("_w"))
      .where(col("_w") =!= "")
      .select(explode(split(col("_w"), "")).as("_ch"))
      .groupBy(col("_ch")).agg(count(lit(1)).as("_c"))
      .orderBy(col("_c").desc, col("_ch").asc)
      .collect().map(_.getString(0))
    val vocab = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    alphabet.foreach(ch => vocab.getOrElseUpdate(ch, vocab.size.toLong))
    merges.foreach { case (x, y) =>
      vocab.getOrElseUpdate(x + y, vocab.size.toLong)
    }
    vocab.toSeq
  }

  /** Subword-encode a corpus with a learned merge table + vocabulary:
    * per document emits `n_toks` (subword count) and `input_ids` (ids in
    * text order; empty for token-less docs). Symbols outside `vocab` map
    * to the stable hashed-OOV id `V + md5-60(sym) mod oovBuckets` —
    * the same contract as [[vocabEncode]], so a char unseen at learn time
    * still encodes deterministically.
    *
    * Scale shape: ONE corpus scan. The merge application is map-side
    * compute (linear in corpus tokens, no extra shuffle; the alternative,
    * deduping distinct words first, would trade that compute for a full
    * token-level shuffle). The doc-id repartition happens BEFORE the
    * explodes, so the final per-doc rebuild groups in-partition without
    * shuffling symbol rows, and the vocab join is an explicit broadcast.
    *
    * `useNative = true` (the default, and the only viable path at a
    * production 32k-merge vocabulary) applies the table through the
    * [[graft.plans.BpeApply]] kernel — constant plan size in M;
    * `useNative = false` keeps the nested-`replace` fold whose chain the
    * q91 DuckDB oracle replays verbatim. BpeSpec pins the two paths
    * byte-equal on learned tables, so the oracle's proof transfers. */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)], vocab: Seq[(String, Long)],
                oovBuckets: Int, useNative: Boolean = true): DataFrame = {
    require(oovBuckets >= 1, "oovBuckets must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val vocabSize = vocab.size.toLong
    val vocabDf = vocab.toDF("_sym", "_tid")
    val words = docs.repartition(col(idCol))
      .select(col(idCol),
        posexplode_outer(split(lower(trim(col(textCol))), "\\s+"))
          .as(Seq("_wp", "_w")))
      .withColumn("_w",
        when(col("_w") === "", lit(null: String)).otherwise(col("_w")))
    val symArr =
      if (useNative) graft.plans.BpeApply(col("_w"), merges)
      else transform(
        split(when(col("_w").isNull, lit(null: String))
          .otherwise(bpeApplyMerges(bpeInitSeq(col("_w")), merges)), " "),
        s => s.substr(lit(2), length(s) - 2))
    val syms = words
      .select(col(idCol), col("_wp"),
        posexplode_outer(symArr).as(Seq("_sp", "_sym")))
    val ids = syms
      .join(broadcast(vocabDf), Seq("_sym"), "left")
      .withColumn("_id", when(col("_sym").isNull, lit(null: java.lang.Long))
        .otherwise(coalesce(col("_tid"),
          lit(vocabSize) + pmod(Dedup.md5Hash60(col("_sym")),
            lit(oovBuckets.toLong)))))
    ids.groupBy(col(idCol))
      .agg(count(col("_sym")).as("n_toks"),
        transform(
          sort_array(collect_list(when(col("_id").isNotNull,
            struct(col("_wp"), col("_sp"), col("_id"))))),
          s => s.getField("_id")).as("input_ids"))
  }
}
