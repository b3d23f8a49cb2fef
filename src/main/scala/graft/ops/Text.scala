package graft.ops

import graft.core.Caches
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._

/** Corpus-level text feature operators (multi-frame — the per-row tier
  * lives in [[graft.functions.TextFunctions]]). */
object Text {

  /** Email address — the ubiquitous pragmatic pattern (local@domain.tld),
    * RE2-safe (no lookaround), ASCII. */
  private[graft] val EmailRe: String =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4, word-bounded (ASCII \b agrees between Java regex
    * and RE2). Octet-range validation (no 999) is deliberately skipped —
    * for REDACTION a false positive is the safe direction. */
  private[graft] val Ipv4Re: String =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Phone-shaped digit run — three alternatives, tried in order (Java
    * regex and RE2 both use leftmost-FIRST alternation, so the engines
    * agree): (1) '+'-prefixed runs need only 8 digits ('+45 12345678' is a
    * full Danish number); (2) bare or singly-separated runs keep the
    * 9-digit floor, so single years and two-year ranges ('1914-1918',
    * '2020 2021' — 8 digits, one separator) never match while ISBNs and
    * 9+-digit ids still do; (3) PAIR-GROUPED 8+-digit runs ('12 34 56 78'
    * — >= 3 separators) match, covering the Denmark/Norway national
    * format. Separators are space/paren/dash, at most two between
    * consecutive digits; dots excluded on purpose (decimals and dotted
    * quads are not phones); run AFTER [[Ipv4Re]] redaction so IP digits
    * are already gone. Known residual leak, documented in [[redactPii]]:
    * an UNPREFIXED 8-digit number with a single separator ('6123 4567',
    * Singapore/Hong Kong style) is shape-identical to a two-year range
    * and is NOT redacted. */
  private[graft] val PhoneRe: String =
    "\\+[0-9](?:[ ()-]{0,2}[0-9]){7,17}" +
      "|[0-9](?:[ ()-]{0,2}[0-9]){8,17}" +
      "|[0-9]{2}(?:[ ()-]{1,2}[0-9]{2}){3,8}"

  /** PII redaction — the privacy gate every released corpus runs (the
    * C4 / CCNet / Gopher pipelines all scrub before publishing): replace
    * emails, then IPv4s, then phone-shaped digit runs with typed tokens
    * (`<EMAIL>`, `<IP>`, `<PHONE>`), counting each category as it is
    * removed. The ORDER is load-bearing and part of the contract: email
    * redaction runs on raw text; IP counting runs on email-redacted text
    * (digits inside an already-redacted email can't double-count); phone
    * counting runs after both (a dotted quad is never also a phone).
    *
    * Pure codegen expression pack — three regexp_replace + three
    * regexp_count over the RE2-safe subset, ONE map-only scan, no UDFs,
    * no shuffle at any corpus size; a DuckDB oracle replays it exactly
    * (q129). These are the published pragmatic REGEX scrubbers, not NER:
    * names/addresses need a model pass; the contract here is the
    * deterministic, engine-replayable 99%.
    *
    * Contract limitation (phones): an unprefixed 8-digit number written
    * with a SINGLE separator ('6123 4567' — Singapore/Hong Kong national
    * format) is shape-identical to a two-year range ('1914-1918') and is
    * deliberately NOT redacted; '+'-prefixed and pair-grouped 8-digit
    * forms are (see [[PhoneRe]]). Deployments targeting those locales
    * should compose an explicit local pattern.
    *
    * Output: (idCol, clean_text, n_emails, n_ips, n_phones). */
  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t0 = col(textCol)
    val nEmail = regexp_count(t0, lit(EmailRe)).cast("long")
    val t1 = regexp_replace(t0, EmailRe, "<EMAIL>")
    val nIp = regexp_count(t1, lit(Ipv4Re)).cast("long")
    val t2 = regexp_replace(t1, Ipv4Re, "<IP>")
    val nPhone = regexp_count(t2, lit(PhoneRe)).cast("long")
    val t3 = regexp_replace(t2, PhoneRe, "<PHONE>")
    docs.select(col(idCol), t3.as("clean_text"), nEmail.as("n_emails"),
      nIp.as("n_ips"), nPhone.as("n_phones"))
  }

  /** C4 line-level cleaning (Raffel et al. 2020 §2.2 — the ruleset behind
    * the C4 corpus, still the canonical first-pass web cleaner): keep only
    * lines that END IN TERMINAL PUNCTUATION (`.` `!` `?` `"`) and carry at
    * least `minLineWords` whitespace words; then gate the PAGE — keep iff
    * at least `minKeptLines` lines survive (C4's "at least 3 sentences",
    * counted on retained lines), the page contains no `{` (the code/JSON
    * tell), and no 'lorem ipsum' (placeholder boilerplate). The published
    * bad-words list is deliberately out of scope (policy, not mechanics —
    * a deployment composes its own list via [[dropRepeatedParagraphs]]'s
    * anti-join shape or a filter).
    *
    * Output: (idCol, clean_text — the kept lines rejoined with newlines,
    * n_lines, n_kept, keep INT). Dropped pages keep their row (keep = 0)
    * so the caller can audit drop rates per source before filtering —
    * same contract as [[redactPii]]'s counts.
    *
    * Scale shape: ONE map-only expression pass (split / filter /
    * array_join / contains are all codegen'd) — no shuffle, no state, no
    * joins at any corpus size; the DuckDB oracle (q137) replays every
    * rule byte-for-byte. */
  def c4Clean(docs: DataFrame, idCol: String, textCol: String,
              minLineWords: Int = 5, minKeptLines: Int = 3): DataFrame = {
    require(minLineWords >= 1, "c4Clean: minLineWords must be >= 1")
    require(minKeptLines >= 1, "c4Clean: minKeptLines must be >= 1")
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, l =>
      trim(l).rlike("[.!?\"]$") &&
        F.size(split(trim(l), "\\s+")) >= minLineWords)
    val nKept = F.size(kept)
    val keep = (nKept >= minKeptLines) &&
      !col(textCol).contains("{") &&
      !lower(col(textCol)).contains("lorem ipsum")
    docs.select(col(idCol),
      array_join(kept, "\n").as("clean_text"),
      F.size(lines).as("n_lines"),
      nKept.as("n_kept"),
      keep.cast("int").as("keep"))
  }

  /** WARC record splitter — the crawl-ingestion front door: a WARC file
    * (the CommonCrawl / web-archive container) is a concatenation of
    * records, each a `WARC/1.0` version line + header lines + blank line
    * + payload. This splits the concatenated text form into one row per
    * record with the two headers every pipeline keys on (`WARC-Type`,
    * `WARC-Target-URI`) extracted and the payload isolated — all
    * RE2-safe regex expressions, ONE map-only pass (split + posexplode +
    * three regexps), no shuffle at any corpus size.
    *
    * Caveats stated rather than hidden: framing is by the `WARC/1.0`
    * version line (a payload CONTAINING that line splits early — the
    * text-form limitation; binary WARC framing uses Content-Length,
    * which a text split cannot honor), header matching accepts both
    * \n and \r\n, a record with no blank line yields payload ''. Text
    * before the first version line is discarded as preamble.
    *
    * Output: (idCol, record_idx INT starting at 1, warc_type,
    * target_uri, payload). */
  def warcRecords(docs: DataFrame, idCol: String,
                  warcCol: String): DataFrame = {
    val pieces = docs.select(col(idCol),
        F.posexplode(split(col(warcCol), "WARC/1\\.0\\r?\\n"))
          .as(Seq("record_idx", "_rec")))
      .where(col("record_idx") > 0)
    pieces.select(col(idCol), col("record_idx").cast("int"),
      regexp_extract(col("_rec"), "(?m)^WARC-Type: ([^\\r\\n]+)", 1)
        .as("warc_type"),
      regexp_extract(col("_rec"), "(?m)^WARC-Target-URI: ([^\\r\\n]+)", 1)
        .as("target_uri"),
      when(col("_rec").rlike("\\r?\\n\\r?\\n"),
        regexp_replace(col("_rec"), "(?s)^.*?\\r?\\n\\r?\\n", ""))
        .otherwise(lit("")).as("payload"))
  }

  /** Token-window document chunking — the sequence-prep step every
    * retrieval index and fixed-context training pipeline runs: split each
    * document into `chunkSize`-token windows advancing by
    * `chunkSize − overlap` tokens, so consecutive chunks share `overlap`
    * tokens of context (the RAG convention; overlap 0 gives a clean
    * partition for pretraining-style slicing — cf. [[graft.ops.Export]]'s
    * whole-doc packing, which this op feeds when documents exceed the
    * sequence length). Tokens are whitespace runs of the trimmed text —
    * the library-wide `\s+` convention (q15).
    *
    * Chunk identity is POSITIONAL and deterministic: `chunk_idx` =
    * start/stride, so (doc, chunk_idx) is a stable key under retry and
    * re-layout — downstream dedup/embedding joins can key on it. A final
    * window whose tokens are all contained in the previous chunk is NOT
    * emitted (kept starts satisfy `start = 0 ∨ start + overlap < n`), so
    * every emitted chunk contributes at least one new token and coverage
    * is still total. Empty/whitespace-only documents yield ZERO chunks
    * (nothing to index — the corpus-filter contract). The last chunk of a
    * document may be short (`n_toks < chunkSize`); it is never padded.
    *
    * Scale shape: ONE map-only pass — token array, in-array start
    * filtering, `posexplode`, `slice` are all codegen'd expressions; no
    * shuffle, no join, no state at any corpus size. Output:
    * (idCol, chunk_idx, start_tok, n_toks, chunk_text). */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > 0, "chunkTokens: chunkSize must be positive")
    require(overlap >= 0 && overlap < chunkSize,
      "chunkTokens: need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    val toks = when(trim(col(textCol)) === "",
        array().cast("array<string>"))
      .otherwise(split(trim(col(textCol)), "\\s+"))
    val base = docs.select(col(idCol), toks.as("_toks"))
      .withColumn("_nt", F.size(col("_toks")))
    val starts = filter(
      sequence(lit(0), greatest(col("_nt") - 1, lit(0)), lit(stride)),
      st => st < col("_nt") &&
        (st === 0 || st + lit(overlap) < col("_nt")))
    base
      .select(col(idCol), col("_toks"),
        posexplode(starts).as(Seq("chunk_idx", "_start")))
      .select(col(idCol), col("chunk_idx"),
        col("_start").cast("long").as("start_tok"),
        slice(col("_toks"), col("_start") + 1, lit(chunkSize)).as("_ct"))
      .select(col(idCol), col("chunk_idx"), col("start_tok"),
        F.size(col("_ct")).as("n_toks"),
        array_join(col("_ct"), " ").as("chunk_text"))
  }

  /** TF-IDF scoring table: one row per (doc, term) with term frequency,
    * document frequency and tf·ln(N/df), over whitespace tokens of the
    * lower-cased text. This overload takes an EXPLICIT `nDocs` so
    * incremental runs can pin the corpus-wide N while scoring a batch; the
    * no-N overload derives N in-plan and is the one batch callers want (no
    * driver-side count pre-pass).
    *
    * Scale shape: text is repartitioned by doc id BEFORE tokenizing, so the
    * (doc, term) aggregate runs in place (hash(doc) co-locates every
    * (doc, term) group — no shuffle of exploded token rows) and the
    * shuffled payload is the compact text. The document-frequency table is
    * a map-side-combined count over the (doc, term) frame keyed by term —
    * vocabulary-sized, orders of magnitude smaller than the corpus — and
    * the final enrich join shuffles (or, when AQE sees a small vocabulary,
    * broadcasts) rows of (doc, term, tf): fixed-width, never raw text.
    * The tfidf value is rounded to 6 dp — a cross-engine determinism
    * contract (ln differs by ulps between libms), same as the cosine
    * scores in the ANN queries. */
  def tfIdf(docs: DataFrame, idCol: String, textCol: String,
            nDocs: Long): DataFrame =
    tfIdfWithN(docs, idCol, textCol, lit(nDocs).cast("double"))

  /** As [[tfIdf]] but with N derived IN-PLAN: a one-row `count(*)`
    * aggregate over `docs` broadcast-cross-joined into the scoring
    * projection — the oracle SQL's `CROSS JOIN n` shape. One Spark action
    * covers everything; callers never run a driver-side `docs.count()`
    * pre-pass (an extra full corpus scan per invocation at 100 TB). The
    * count scan prunes to zero columns, so its cost is parquet row-group
    * metadata, not data. */
  def tfIdf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = docs.agg(count(lit(1)).cast("double").as("_corpus_n"))
    tfIdfWithN(docs, idCol, textCol, col("_corpus_n"), Some(n))
  }

  private def tfIdfWithN(docs: DataFrame, idCol: String, textCol: String,
                         nExpr: org.apache.spark.sql.Column,
                         nFrame: Option[DataFrame] = None): DataFrame = {
    val toks = docs.repartition(col(idCol))
      .select(col(idCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .where(col("term") =!= "")
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val scored = tf.join(dfTable(tf), "term")
    val withN = nFrame.fold(scored)(n => scored.crossJoin(broadcast(n)))
    // idf rounds 6-dp under the portability guard FIRST, then multiplies
    // by the integer tf (the cTfIdfTopTerms convention): the true product
    // of an integer and a 6-dp decimal sits ON the 6-dp grid, so the
    // final round-6 is boundary-free on every engine — round(tf·ln(...))
    // directly would be an unguarded transcendental round (the Round6
    // hazard this library never publishes).
    val idf6 = graft.ops.Round6.guarded(F.log(nExpr / col("df")),
      "tfIdf idf")
    withN.select(col(idCol), col("term"), col("tf"), col("df"),
      F.round(col("tf") * idf6, 6).as("tfidf"))
  }

  private def dfTable(tf: DataFrame): DataFrame =
    tf.groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** Okapi BM25 retrieval scores: one row per document containing at least
    * one query term, `score = Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))`
    * with `idf = ln(1 + (N−df+0.5)/(df+0.5))`, whitespace tokens of the
    * lower-cased text (same tokenizer as [[tfIdf]]). Rounded to 6 dp — the
    * cross-engine ln-determinism contract shared with the TF-IDF and
    * cosine scores.
    *
    * Scale shape: one tokenize pass repartitioned by doc id feeds BOTH the
    * (doc, term) tf aggregate and the per-doc length — co-partitioned, no
    * exploded-token shuffle. The query-term filter cuts the tf frame to
    * |queryTerms|·N rows BEFORE any join; df over those terms and the
    * (N, avgdl) stats row are broadcast. Nothing driver-side: N and avgdl
    * are in-plan one-row aggregates, never a `.count()` pre-pass. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = docs.repartition(col(idCol))
      .select(col(idCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .where(col("term") =!= "")
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col(idCol)).agg(F.sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      F.avg(col("dl")).as("avgdl"))
    val qtf = tf.where(col("term").isin(queryTerms: _*))
    val df = qtf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = F.log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val norm = col("tf") * (k1 + 1) /
      (col("tf") + (col("dl") / col("avgdl") * b + (1 - b)) * k1)
    qtf.join(broadcast(df), "term")
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      // per-term contribution rounded to 6 dp THEN summed as DECIMAL: the
      // doc score is exact whatever order the partial aggregates add in
      // (a raw double sum is order-sensitive in the last ulps and can flip
      // the 6th decimal between engines).
      .agg(F.sum(Round6.guarded(idf * norm, "bm25 term")
          .cast("decimal(18,6)"))
        .cast("decimal(18,6)").cast("string").as("score"))
  }

  /** Pointwise mutual information over adjacent-token bigrams:
    * `pmi = ln( (c_xy/Nb) / ((c_x/Nt)·(c_y/Nt)) )` for every bigram with
    * `c_xy >= minCount` — the collocation detector (Church & Hanks) every
    * corpus-analysis pass runs. Output: (bigram "x y", c_xy, pmi@6dp).
    *
    * Scale shape: bigrams are formed INSIDE the row by zipping the token
    * array against itself shifted by one (`zip_with` over two `slice`s —
    * pure codegen'd expressions, no self-join, no window, no shuffle of
    * token rows). The only shuffles carry (bigram, count) / (term, count)
    * aggregates — vocabulary-sized. Totals Nt/Nb are in-plan one-row sums
    * over those count tables (not another corpus scan), broadcast into the
    * final projection; unigram enrich joins are broadcast-sized. */
  def pmiBigrams(docs: DataFrame, textCol: String,
                 minCount: Long = 5L): DataFrame = {
    val arr = F.filter(split(lower(trim(col(textCol))), "\\s+"),
      t => t =!= "")
    val toks = docs.select(arr.as("toks"))
    val nBi = F.greatest(F.size(col("toks")) - 1, lit(0))
    val bigrams = toks.select(explode(F.zip_with(
        F.slice(col("toks"), lit(1), nBi),
        F.slice(col("toks"), lit(2), nBi),
        (x, y) => F.struct(x.as("x"), y.as("y")))).as("bg"))
      .select(col("bg.x").as("x"), col("bg.y").as("y"))
    val cxy = bigrams.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("c_xy"))
    val cx = toks.select(explode(col("toks")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val nb = cxy.agg(F.sum(col("c_xy")).cast("double").as("nb"))
    val nt = cx.agg(F.sum(col("c")).cast("double").as("nt"))
    cxy.where(col("c_xy") >= minCount)
      .join(cx.select(col("t").as("x"), col("c").as("c_x")), "x")
      .join(cx.select(col("t").as("y"), col("c").as("c_y")), "y")
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nt))
      .select(F.concat_ws(" ", col("x"), col("y")).as("bigram"),
        col("c_xy"),
        Round6.guarded(F.log((col("c_xy") / col("nb")) /
          ((col("c_x") / col("nt")) * (col("c_y") / col("nt")))),
          "pmiBigrams").as("pmi"))
  }

  /** Exact-substring dedup REMOVAL — the endpoint [[duplicatedSpans]]
    * feeds: every maximal duplicated span is cut out of the text, leaving
    * the novel remainder (the Lee et al. "Deduplicating Training Data…"
    * treatment for verbatim boilerplate). Output: the input row with a
    * `clean_text` column; docs with no duplicated spans pass through
    * verbatim.
    *
    * Scale shape: span detection is [[duplicatedSpans]] unchanged; the
    * surgery is one long-key join of docs against their per-doc span array
    * (proportional to the FLAGGED minority) and a codegen'd fold over that
    * small sorted array (`aggregate` — spans are disjoint and ascending by
    * construction, so the cut is a single forward pass concatenating the
    * gaps; no per-row regex, no UDF). */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 50, minOccur: Long = 2L): DataFrame =
    cutSpans(docs, idCol, textCol,
      duplicatedSpans(docs, idCol, textCol, n, minOccur))

  /** The span surgery shared by [[removeDuplicatedSpans]] and
    * [[removeMatchingSpans]]: one long-key join of docs against their
    * per-doc span array and a codegen'd fold over the sorted disjoint
    * spans. `spans` must carry (idCol, span_start, span_end) with merged
    * (gap >= 1) intervals, as [[mergeIslands]] produces. */
  private def cutSpans(docs: DataFrame, idCol: String, textCol: String,
                       spans: DataFrame): DataFrame = {
    val perDoc = spans.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_end"))))
        .as("_spans"))
    val text = col(textCol)
    // Fold the sorted disjoint spans left-to-right: state = (next position
    // to copy from, accumulated kept text). Islands-merge guarantees a gap
    // of >= 1 between consecutive spans, so every substr length is >= 0.
    val cut = aggregate(
      col("_spans"),
      struct(lit(1L).as("pos"), lit("").as("acc")),
      (st, sp) => struct(
        (sp.getField("span_end") + 1L).as("pos"),
        concat(st.getField("acc"),
          text.substr(st.getField("pos").cast("int"),
            (sp.getField("span_start") - st.getField("pos")).cast("int")))
          .as("acc")),
      st => concat(st.getField("acc"),
        text.substr(st.getField("pos").cast("int"),
          (length(text) - st.getField("pos") + 1).cast("int"))))
    docs.join(perDoc, Seq(idCol), "left")
      .withColumn("clean_text",
        when(col("_spans").isNull, text).otherwise(cut))
      .drop("_spans")
  }

  /** Verbatim duplicated-span detection — the exact-substring dedup shape
    * used by dataset-curation pipelines (flag any `n`-char window whose
    * text occurs at least `minOccur` times ANYWHERE in the corpus, then
    * merge flagged windows into maximal per-document character intervals).
    * Output: (id, span_start, span_end, n_grams), 1-based inclusive
    * character offsets, one row per maximal duplicated span.
    *
    * Scale shape: windows are hashed positionally in one codegen'd pass
    * ([[graft.plans.ShingleHashPos64]]) — the window TEXT never
    * materializes and every shuffled row is (id, pos, hash), fixed-width.
    * The occurrence count is a map-side-combined aggregate on the 64-bit
    * hash; flagged positions (the duplicated minority) are the only rows
    * that reach the per-doc interval-merge window, whose sort runs after a
    * hash(id) exchange of that minority. Same islands-merge as the
    * sessionize operator: running max of span end over preceding rows
    * starts a new island when a gap opens.
    *
    * Duplicate identity is by 64-bit hash (collision odds ~ windows²/2⁶⁴ —
    * negligible even at 10¹² windows they'd only over-flag one span). */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 50, minOccur: Long = 2L): DataFrame = {
    val base = windowHashes(docs, idCol, textCol, n)
    val dup = base.groupBy(col("_h")).agg(count(lit(1)).as("_c"))
      .where(col("_c") >= minOccur).select(col("_h"))
    mergeIslands(base.join(dup, "_h"), idCol, n)
  }

  /** Spans of `docs` whose `n`-char windows occur ANYWHERE in `reference`
    * — span-level benchmark decontamination detection: q65's contamination
    * SCORE says how much of a doc overlaps the eval split; this says
    * exactly WHERE, as maximal merged character intervals, so the verbatim
    * eval text can be excised ([[removeMatchingSpans]]) instead of the
    * whole doc quarantined. Same fixed-width positional-hash shape as
    * [[duplicatedSpans]]; the reference reduces to its DISTINCT window-
    * hash set (dim-sized for a typical eval split — AQE broadcasts it). */
  def matchingSpans(docs: DataFrame, idCol: String, textCol: String,
                    reference: DataFrame, refTextCol: String,
                    n: Int = 50): DataFrame = {
    val base = windowHashes(docs, idCol, textCol, n)
    val refHashes = reference
      .where(F.length(col(refTextCol)) >= 1)
      .select(explode(graft.plans.ShingleHashPos64(col(refTextCol), n)).as("_h"))
      .distinct()
    mergeIslands(base.join(refHashes, "_h"), idCol, n)
  }

  /** Cut every span of [[matchingSpans]] out of the text — the
    * decontamination ENDPOINT: training docs keep their novel content,
    * verbatim benchmark text is gone. Adds `clean_text`. */
  def removeMatchingSpans(docs: DataFrame, idCol: String, textCol: String,
                          reference: DataFrame, refTextCol: String,
                          n: Int = 50): DataFrame =
    cutSpans(docs, idCol, textCol,
      matchingSpans(docs, idCol, textCol, reference, refTextCol, n))

  /** [[matchingSpans]] with a Bloom-sketch prefilter on the corpus scan —
    * IDENTICAL output (the sketch admits no false negatives and every
    * bloom-positive is re-verified by the exact hash join), different scale
    * shape: the plain path semi-joins EVERY corpus window against the
    * reference hash table, which shuffles the full O(corpus) window stream
    * once that table outgrows the broadcast threshold. Here membership is
    * tested ON THE SCAN by a codegen'd
    * [[graft.plans.BloomMightContainLong]] over a driver-built sketch
    * (~1.2 MB per million reference windows at fpp=1%), so the only rows
    * reaching the verify join are true hits + an fpp-sized false-positive
    * tail. Two driver actions over the REFERENCE side only (distinct-hash
    * count + sketch build — dim-sized by the decontamination contract);
    * the corpus is scanned once, shuffle-free until the island merge of
    * the flagged minority. */
  def matchingSpansBloom(docs: DataFrame, idCol: String, textCol: String,
                         reference: DataFrame, refTextCol: String,
                         n: Int = 50, fpp: Double = 0.01): DataFrame = {
    val refHashes = Caches.pin(reference
      .where(F.length(col(refTextCol)) >= 1)
      .select(explode(graft.plans.ShingleHashPos64(col(refTextCol), n)).as("_h"))
      .distinct())
    val nRef = math.max(1L, refHashes.count())
    val bloom = refHashes.stat.bloomFilter("_h", nRef, fpp)
    val base = windowHashes(docs, idCol, textCol, n)
      .where(graft.plans.BloomMightContainLong(col("_h"), bloom))
    mergeIslands(base.join(refHashes, "_h"), idCol, n)
  }

  /** Cut every span of [[matchingSpansBloom]] out of the text — the
    * scan-prefiltered decontamination endpoint. Adds `clean_text`. */
  def removeMatchingSpansBloom(docs: DataFrame, idCol: String, textCol: String,
                               reference: DataFrame, refTextCol: String,
                               n: Int = 50, fpp: Double = 0.01): DataFrame =
    cutSpans(docs, idCol, textCol,
      matchingSpansBloom(docs, idCol, textCol, reference, refTextCol, n, fpp))

  /** Cross-corpus repeated-paragraph removal — the CCNet paragraph-dedup
    * stage (Wenzek et al. 2020: web boilerplate like cookie banners,
    * share bars, nav footers repeats ACROSS pages at paragraph
    * granularity, where doc-level dedup can't see it): split each doc on
    * `sep`, count each non-blank paragraph's DOCUMENT frequency over the
    * corpus via its md5-120 key (the shuffle carries 16-byte hashes, not
    * paragraph text — CCNet's own sha1-per-paragraph trick; 120 bits
    * because the key drives DELETION: at the billions of paragraphs this
    * op targets, 60-bit birthday collisions would silently drop innocent
    * paragraphs that collide with hot boilerplate), drop every
    * instance of paragraphs with df ≥ `minDf`, reassemble the survivors
    * in document order.
    *
    * Scale shape: one hash-groupBy over paragraph instances for the df
    * table; the hot list (df ≥ minDf) is bounded by
    * total-paragraphs / minDf, so the anti-join's build side is orders
    * of magnitude smaller than the corpus (broadcast at typical
    * thresholds, SMJ co-partitioned with the df agg otherwise); one
    * output-sized groupBy(id) reassembles. Blank paragraphs never enter
    * the df count and are never dropped (they are structure, not
    * content). Within-doc repeats count df ONCE (distinct doc count) but
    * every instance drops when hot. Documents whose every paragraph is
    * boilerplate produce NO row — the corpus-filter contract shared with
    * [[Html.mainContent]].
    *
    * Output: (idCol, clean_text, n_kept, n_dropped) — counts over
    * non-blank paragraph instances. Deterministic: pure function of the
    * corpus (md5 df, total-order reassembly). */
  def dropRepeatedParagraphs(docs: DataFrame, idCol: String, textCol: String,
                             minDf: Long, sep: String = "\n"): DataFrame = {
    require(minDf >= 2, "minDf must be >= 2 (1 would drop every paragraph)")
    val paras = Caches.pin(docs
      .select(col(idCol),
        F.posexplode(F.split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("p_idx", "para")))
      .withColumn("_blank", F.trim(col("para")) === "")
      .withColumn("_h", Dedup.md5Hash120(col("para"))))
    val hot = paras.where(!col("_blank"))
      .groupBy("_h")
      .agg(F.countDistinct(col(idCol)).as("_df"))
      .where(col("_df") >= minDf)
      .select(col("_h"))
    // blank paragraphs can't be hot (hot is built from non-blank rows),
    // so the anti-join drops exactly the hot non-blank instances
    paras.join(hot, Seq("_h"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        F.array_join(
          F.transform(
            F.array_sort(F.collect_list(F.struct(col("p_idx"), col("para")))),
            x => x.getField("para")), sep).as("clean_text"),
        F.sum(F.when(col("_blank"), 0L).otherwise(1L)).as("n_kept"))
      .join(
        paras.where(!col("_blank")).groupBy(col(idCol))
          .agg(F.count(F.lit(1)).as("_total")),
        Seq(idCol), "left")
      .select(col(idCol), col("clean_text"), col("n_kept"),
        (F.coalesce(col("_total"), F.lit(0L)) - col("n_kept"))
          .as("n_dropped"))
  }

  /** (id, len, 1-based position, 64-bit positional window hash) rows for
    * every `n`-char window; compact text repartitioned by id first so the
    * downstream flag-join + island window stay co-partitioned. */
  private def windowHashes(docs: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame =
    docs
      .where(F.length(col(textCol)) >= 1)
      .repartition(col(idCol))
      .select(col(idCol).as("_id"),
        F.length(col(textCol)).cast("long").as("_len"),
        posexplode(graft.plans.ShingleHashPos64(col(textCol), n))
          .as(Seq("_p0", "_h")))
      .select(col("_id"), col("_len"),
        (col("_p0") + 1).cast("long").as("_p"), col("_h"))

  /** Merge flagged window positions (`_id`, `_len`, `_p`) into maximal
    * per-doc character intervals (islands: running max of span end over
    * preceding rows starts a new island when a gap opens). */
  private def mergeIslands(flagged0: DataFrame, idCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val flagged = flagged0
      .select(col("_id"), col("_p"),
        least(col("_p") + (n - 1), col("_len")).as("_e"))
    val w = Window.partitionBy(col("_id")).orderBy(col("_p"))
    val prevMaxEnd = F.max(col("_e"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged
      .withColumn("_pm", prevMaxEnd)
      .withColumn("_new",
        F.when(col("_pm").isNull || col("_p") > col("_pm") + 1, 1).otherwise(0))
      .withColumn("_isl", F.sum(col("_new")).over(w))
      .groupBy(col("_id"), col("_isl"))
      .agg(F.min(col("_p")).as("span_start"), F.max(col("_e")).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("_id").as(idCol), col("span_start"), col("span_end"),
        col("n_grams"))
  }

  /** Flesch readability per doc — the classic quality signal the Gopher
    * rules skip: reading-ease and grade-level from words/sentences/
    * syllables. The linguistic parts are deterministic heuristics with
    * the simplifications STATED: words = the engine's whitespace
    * tokenizer; sentences = runs of `[.!?]` (floor 1, so fragments
    * score); syllables = vowel-group runs `[aeiouy]+` per word (floor 1
    * — silent-e and diphthong subtleties are out of scope; the signal
    * ranks docs, it does not grade essays).
    *
    * Determinism: counts are exact integers; both scores are ONE IEEE
    * chain each over integer ratios, published as floor(x·1000 + 0.5)
    * milli-units (identical doubles floor identically — no decimal-grid
    * round hazard; half rounds toward +∞):
    * fre = 206.835 − 1.015·(W/S) − 84.6·(Syl/W),
    * fk  = 0.39·(W/S) + 11.8·(Syl/W) − 15.59.
    * Docs with no tokens (empty/whitespace text) are absent. Scale
    * shape: one token explode + one map-side-combined groupBy(id) —
    * sentence counts ride the group key, nothing else shuffles. Output:
    * (idCol, words, sentences, syllables BIGINT, fre_milli, fk_milli
    * BIGINT). */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sentences = greatest(lit(1L),
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0)))
        .cast("long"))
    val toks = docs
      .select(col(idCol), sentences.as("sentences"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("_tok"))
      .where(col("_tok") =!= "")
    val syl = greatest(lit(1L),
      size(regexp_extract_all(col("_tok"), lit("[aeiouy]+"), lit(0)))
        .cast("long"))
    val ws = col("words").cast("double") / col("sentences").cast("double")
    val sw = col("syllables").cast("double") / col("words").cast("double")
    def milli(c: org.apache.spark.sql.Column) =
      floor(c * lit(1000.0) + lit(0.5)).cast("long")
    toks.groupBy(col(idCol), col("sentences"))
      .agg(count(lit(1)).as("words"), sum(syl).as("syllables"))
      .select(col(idCol), col("words"), col("sentences"), col("syllables"),
        milli(lit(206.835) - lit(1.015) * ws - lit(84.6) * sw)
          .as("fre_milli"),
        milli(lit(0.39) * ws + lit(11.8) * sw - lit(15.59))
          .as("fk_milli"))
  }

  /** Character-n-gram novelty of each doc against a reference corpus —
    * the memorization / contamination RATIO view of the span tier
    * ([[matchingSpans]] says WHERE the overlap is; this says HOW MUCH
    * of the doc is overlap): per doc, the fraction of its n-char
    * windows absent from the reference's distinct window set, in
    * floored ppm. The eval-vs-train direction measures leakage; the
    * generated-vs-train direction measures verbatim memorization.
    *
    * Same machinery as [[matchingSpans]]: positional 64-bit window
    * hashes ([[graft.plans.ShingleHashPos64]] — docs shorter than n
    * contribute their single clamped window), reference reduced to a
    * distinct 8-byte hash set, one hash join — text never shuffles. For
    * a reference too large to build per-run, compose with the persisted
    * bloom tier ([[matchingSpansBloom]]'s prefilter) upstream. Output:
    * (idCol, ngrams, seen, novelty_ppm BIGINT). */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   reference: DataFrame, refTextCol: String,
                   n: Int = 50): DataFrame = {
    val base = windowHashes(docs, idCol, textCol, n)
    val refHashes = reference
      .where(F.length(col(refTextCol)) >= 1)
      .select(explode(graft.plans.ShingleHashPos64(col(refTextCol), n))
        .as("_h"))
      .distinct()
      .withColumn("_seen", lit(1L))
    base.join(refHashes, Seq("_h"), "left")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("ngrams"), count(col("_seen")).as("seen"))
      .select(col("_id").as(idCol), col("ngrams"), col("seen"),
        expr("(ngrams - seen) * CAST(1000000 AS BIGINT) div ngrams")
          .as("novelty_ppm"))
  }

  /** Inverted index build — the SERVING artifact of the retrieval tier
    * ([[tfIdf]]/[[bm25]] score; this materializes the term → postings
    * table a lookup service reads): one row per term with its exact
    * document frequency and a doc-id posting list sorted ascending.
    *
    * Hot-term bound (the maxDf/minDf discipline): postings are CAPPED at
    * `maxPostings` ids per term — lowest ids first, deterministic — so no
    * row and no task is ever sized by a stopword's full posting list;
    * `df` stays exact over ALL documents, so a reader can both detect
    * truncation (df > len(postings)) and apply idf correctly. The cap is
    * enforced BEFORE any list materializes: the salted two-phase bottom-k
    * (no task sorts a hot term's full doc set), then one
    * maxPostings-bounded collect per term. Output: (term, df BIGINT,
    * postings ARRAY<id>). */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    maxPostings: Int = 1000, fanout: Int = 64): DataFrame = {
    require(maxPostings > 0, "invertedIndex: maxPostings must be positive")
    require(fanout > 0, "invertedIndex: fanout must be positive")
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col(idCol).as("_id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .where(col("term") =!= "")
      .distinct()
    val dfreq = toks.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val local = Window
      .partitionBy(col("term"), pmod(xxhash64(col("_id")), lit(fanout)))
      .orderBy(col("_id").asc)
    val global = Window.partitionBy(col("term")).orderBy(col("_id").asc)
    val capped = toks
      .withColumn("_l", row_number().over(local))
      .where(col("_l") <= maxPostings)
      .withColumn("_r", row_number().over(global))
      .where(col("_r") <= maxPostings)
    val postings = capped.groupBy(col("term"))
      .agg(array_sort(collect_list(col("_id"))).as("postings"))
    dfreq.join(postings, Seq("term"))
  }

  /** Conjunctive (AND) retrieval served from an [[invertedIndex]] table —
    * the lookup path of the serving artifact: documents containing EVERY
    * query term. Reads only the queried terms' rows (term-pruned scan of
    * a term-partitioned/bucketed index at scale), explodes their
    * postings, and keeps docs hit by all terms — candidate volume is
    * Σ len(postings) of the query terms, never the corpus.
    *
    * EXACT precisely when no queried term is truncated (df ==
    * len(postings) — the flag [[invertedIndex]] publishes); a truncated
    * stopword's postings under-report, which is the standard serving
    * trade (rank-and-prune) and is the caller's check. Output:
    * (doc_id rows — one per matching doc, named after the exploded
    * posting element). */
  def searchConjunctive(index: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "searchConjunctive: terms must be non-empty")
    val t = terms.distinct
    index.where(col("term").isin(t: _*))
      .select(col("term"), explode(col("postings")).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("_nt"))
      .where(col("_nt") === t.size)
      .select(col("doc_id"))
  }

  /** Trending terms between two corpus slices (this crawl vs last, this
    * week vs previous) — the vocabulary-level drift monitor that names
    * WHAT changed where [[graft.ops.Scoring.distributionDrift]]'s bucket
    * audit only says THAT something did: per term, the Laplace-smoothed
    * relative-rate ratio
    * `ratio_ppm = floor((c_cur+1)·(N_prev+V)·10⁶ / ((c_prev+1)·(N_cur+V)))`
    * (V = distinct terms across both slices — the smoothing vocabulary;
    * new terms get finite ratios instead of division blowups), filtered
    * to `minCount` current occurrences, ranked by (ratio desc, term).
    *
    * Integer-exact end to end: counts and totals are exact aggregates,
    * the ratio is ONE integral division of DECIMAL(38) products (`div`
    * ≡ DuckDB `//`, non-negative operands), and the ranking is the
    * range-exchange global row number — no task sorts the vocabulary,
    * no transcendental reaches an output column.
    *
    * Scale shape: two token-count passes (map-side combined to
    * vocabulary-sized frames), one full-outer term join, two one-row
    * totals broadcast in-plan, then the bounded ranked head. Output:
    * (term, c_cur, c_prev, ratio_ppm, rank 1..topN). */
  def trendingTerms(current: DataFrame, currentTextCol: String,
                    previous: DataFrame, previousTextCol: String,
                    topN: Int, minCount: Long = 5L): DataFrame = {
    require(topN > 0, "trendingTerms: topN must be positive")
    require(minCount >= 1, "trendingTerms: minCount must be >= 1")
    def counts(df: DataFrame, text: String, out: String) =
      df.select(explode(split(lower(trim(col(text))), "\\s+")).as("term"))
        .where(col("term") =!= "")
        .groupBy(col("term")).agg(count(lit(1)).as(out))
    val cur = counts(current, currentTextCol, "_cc")
    val prev = counts(previous, previousTextCol, "_cp")
    val joined = cur.join(prev, Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("_cc"), lit(0L)).as("c_cur"),
        coalesce(col("_cp"), lit(0L)).as("c_prev"))
    val tot = joined.agg(sum(col("c_cur")).as("_nc"),
      sum(col("c_prev")).as("_np"), count(lit(1)).as("_v"))
    val dec = "decimal(38,0)"
    val ratio = expr(
      s"""((cast(c_cur as $dec) + 1) * (cast(_np as $dec) + _v) * 1000000)
         | div ((cast(c_prev as $dec) + 1) * (cast(_nc as $dec) + _v))"""
        .stripMargin)
    val scored = joined.where(col("c_cur") >= minCount)
      .crossJoin(broadcast(tot))
      .select(col("term"), col("c_cur"), col("c_prev"),
        ratio.as("ratio_ppm"))
    Ops.globalRowNumber(scored,
        Seq(col("ratio_ppm").desc, col("term").asc), "rank")
      .where(col("rank") <= topN)
      .withColumn("rank", col("rank").cast("int"))
  }

  /** [[invertedIndex]] with TERM FREQUENCIES in the postings — the
    * artifact RANKED retrieval needs ([[searchBm25]]): (term, df,
    * postings ARRAY<STRUCT<doc, tf>>), postings by doc id ascending,
    * capped at `maxPostings` by the same salted two-phase ranking (and
    * the same exactness flag: a term is served exactly iff df ==
    * len(postings)). Same scale shape as [[invertedIndex]] — the only
    * difference is the per-(doc, term) count aggregate replacing the
    * distinct. */
  def invertedIndexTf(docs: DataFrame, idCol: String, textCol: String,
                      maxPostings: Int = 1000, fanout: Int = 64): DataFrame = {
    require(maxPostings > 0, "invertedIndexTf: maxPostings must be positive")
    require(fanout > 0, "invertedIndexTf: fanout must be positive")
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col(idCol).as("_id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .where(col("term") =!= "")
      .groupBy(col("_id"), col("term")).agg(count(lit(1)).as("_tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val local = Window
      .partitionBy(col("term"), pmod(xxhash64(col("_id")), lit(fanout)))
      .orderBy(col("_id").asc)
    val global = Window.partitionBy(col("term")).orderBy(col("_id").asc)
    val capped = tf
      .withColumn("_l", row_number().over(local))
      .where(col("_l") <= maxPostings)
      .withColumn("_r", row_number().over(global))
      .where(col("_r") <= maxPostings)
    val postings = capped.groupBy(col("term"))
      .agg(array_sort(collect_list(
        struct(col("_id").as("doc"), col("_tf").as("tf")))).as("postings"))
    dfreq.join(postings, Seq("term"))
  }

  /** Per-doc token-instance lengths — the BM25 norm's side table (the
    * serving artifact is the PAIR: [[invertedIndexTf]] + this). Docs
    * with no tokens are absent, exactly [[bm25]]'s `dl` frame, so the
    * served n/avgdl statistics match the direct scorer's. */
  def docLengths(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("_t"))
      .where(col("_t") =!= "")
      .groupBy(col("doc")).agg(count(lit(1)).as("dl"))

  /** RANKED (BM25) retrieval served FROM the index — the third leg of
    * the serving tier (build [[invertedIndexTf]] → boolean
    * [[searchConjunctive]] → THIS): top-k docs over the UNION of the
    * query terms' postings, scored with the IDENTICAL expression chain
    * as the direct scorer [[bm25]] (same idf, same norm operand order,
    * per-term contributions [[Round6.guarded]] then summed as
    * DECIMAL(18,6)), so served scores equal a corpus-scan rescore
    * whenever no queried term is truncated (df == len(postings), the
    * index's published exactness flag).
    *
    * Scale shape — the reason an index exists: the scan set is the
    * queried TERMS' rows (term-pruned on a term-partitioned index) plus
    * one map-only pass of `doclens` with the candidate set BROADCAST
    * (candidates ≤ |terms|·maxPostings by construction); the corpus
    * text is never touched. The final ranking window is unpartitioned
    * but provably bounded by the same |terms|·maxPostings (the
    * [[graft.ops.Scoring.thresholdSweep]] contract for an unpartitioned
    * window). Output: (doc_id, score STRING — exact decimal, the
    * [[bm25]] convention, rank INT 1..k by (score desc, doc asc)). */
  def searchBm25(index: DataFrame, doclens: DataFrame, terms: Seq[String],
                 k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "searchBm25: terms must be non-empty")
    require(k > 0, "searchBm25: k must be positive")
    import org.apache.spark.sql.expressions.Window
    val t = terms.distinct
    val cand = index.where(col("term").isin(t: _*))
      .select(col("df"), explode(col("postings")).as("_p"))
      .select(col("df"), col("_p.doc").as("doc"), col("_p.tf").as("_tf"))
    val stats = doclens.agg(count(lit(1)).cast("double").as("n_docs"),
      F.avg(col("dl")).as("avgdl"))
    val idf = F.log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val norm = col("_tf") * (k1 + 1) /
      (col("_tf") + (col("dl") / col("avgdl") * b + (1 - b)) * k1)
    val scored = doclens.join(broadcast(cand), Seq("doc"))
      .crossJoin(broadcast(stats))
      .groupBy(col("doc"))
      .agg(F.sum(Round6.guarded(idf * norm, "searchBm25 term")
          .cast("decimal(18,6)"))
        .cast("decimal(18,6)").as("_score"))
    // Salted two-phase top-k (the boundedTopK/zipfSlope pattern): the
    // candidate set is every doc containing a query term — corpus-sized
    // for a common term, so a single unpartitioned ranking window would
    // funnel it through ONE task. Phase 1 keeps k per salt bucket; the
    // global window then ranks ≤ 64·k survivors (k-bounded — one small
    // task by construction). Exact: (score desc, doc asc) is a total
    // order, and a global top-k row is a top-k row of its salt bucket.
    val salt = pmod(xxhash64(col("doc")), lit(64L))
    val local = Window.partitionBy(salt)
      .orderBy(col("_score").desc, col("doc").asc)
    val w = Window.orderBy(col("_score").desc, col("doc").asc)
    scored.withColumn("_lrk", row_number().over(local))
      .where(col("_lrk") <= k)
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("doc").as("doc_id"),
        col("_score").cast("string").as("score"), col("rank"))
  }
}
