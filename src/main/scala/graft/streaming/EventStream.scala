package graft.streaming

import graft.core.Caches
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming surface (SURVEY.md §2.10 + the beyond-reference
  * streaming mandate): event streams are `readStream` sources flowing
  * through the SAME column expressions the batch engine uses, with
  * event-time watermarks bounding state.
  *
  * The reference's only streaming analogs are a 60 s processing-time poll
  * (T1) and the settle/timeout watcher (S8, see [[PdfWatcher]]); windowed
  * event-time aggregation is the scale path a 100 TB pipeline needs: state
  * is bounded by the watermark, partial aggregation happens map-side, and
  * the same query runs identically over a file/Kafka source. */
object EventStream {

  /** Event-time tumbling-window aggregation: count + sum(value) per
    * (window, event_type), late data bounded by `watermark`.
    * Input needs (ts_ns long, event_type string, value double).
    *
    * LATE-DATA POLICY (the explicit contract, pinned by the adversarial-
    * reorder spec in EventStreamSpec): the watermark after each
    * micro-batch is max(event_time seen) − `watermark`; an out-of-order
    * row is ACCEPTED as long as its window's end is still above the
    * watermark when its batch is filtered (its window state is alive, the
    * aggregate updates as if it had arrived in order), and DROPPED —
    * silently, by design — once the watermark has passed the window end
    * and the state is evicted. In append output mode a window emits
    * exactly once, when the watermark passes its end, so emitted rows are
    * FINAL; update mode re-emits on accepted late rows. Complete mode
    * disables eviction (all windows stay live, nothing is ever late) —
    * use it only for bounded backfills. On in-order input the result
    * equals the batch groupBy over the same rows (also spec-pinned). */
  def windowedAgg(events: DataFrame, windowDur: String = "1 hour",
                  watermark: String = "30 minutes"): DataFrame =
    slidingAgg(events, windowDur, windowDur, watermark)

  /** Sliding event-time windows — [[windowedAgg]] generalized to
    * `slide` < `windowDur` (tumbling IS slide == window): each event
    * contributes to ⌈window/slide⌉ overlapping windows, so row volume
    * multiplies by that factor BEFORE the shuffle — keep the ratio small
    * at scale, or pre-aggregate to tumbling `slide`-sized panes and roll
    * up when the aggregate is reassociable (count/sum are; this op keeps
    * the direct form for exactness of the generic shape). Same late-data
    * contract as [[windowedAgg]]: acceptance is per WINDOW, so a late row
    * can update its younger containing windows while its oldest window is
    * already evicted — each window's emitted row is still final in append
    * mode. */
  def slidingAgg(events: DataFrame, windowDur: String = "1 hour",
                 slide: String = "30 minutes",
                 watermark: String = "30 minutes"): DataFrame =
    events
      // Integer `div`, never `/`: nanosecond epochs (~1.7e18) exceed a
      // double's 2^53 mantissa, so float division can shift the derived
      // microsecond by ±1 and move an event across a window boundary.
      .withColumn("event_time", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowDur, slide), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** [[slidingAgg]] with PANE PRE-AGGREGATION — the scale form its
    * docstring names: a 1 h window sliding by 1 min makes the direct
    * formulation carry every event 60× into the shuffle, while count/sum
    * are reassociable, so the right plan aggregates ONCE into tumbling
    * `slide`-sized panes (shuffle carries pane rows — bounded by
    * slide-granularity × type cardinality, not event volume) and then
    * rolls each pane up into the ⌈window/slide⌉ windows containing it:
    * the ×ratio expansion happens on PANE rows, post-aggregation, where
    * it is cardinality-bounded. Result-identical to [[slidingAgg]]
    * (spec-pinned at several window/slide ratios, oracle-checked as
    * q208): pane p = slide·⌊t/slide⌋ sits in exactly the windows
    * starting p − i·slide, i ∈ [0, ratio) — the same slide-aligned set
    * (t − window, t] the direct form assigns the event, and decimal
    * partial sums re-sum exactly (order-free). Window start arithmetic
    * is integer micros end to end (the 2^53 discipline of the direct
    * form).
    *
    * Requires window = ratio · slide exactly. NON-reassociable aggregates
    * (distinct counts, percentiles) cannot take this path — use
    * [[slidingAgg]] or a sketch ([[streamingHllRegisters]]) instead.
    * STREAMING NOTE: this is two chained aggregations; run it as-is for
    * batch/backfill (q208's mode), and in a live stream split it at its
    * published seam — [[slidingPanes]] is the stateful stage (state
    * ratio× smaller than the direct form's), [[panesRollup]] the cheap
    * fold in foreachBatch or a downstream batch over the pane sink
    * (recipe spec-pinned). */
  def slidingAggPanes(events: DataFrame, windowDur: String = "1 hour",
                      slide: String = "30 minutes",
                      watermark: String = "30 minutes"): DataFrame =
    panesRollup(slidingPanes(events, slide, watermark), windowDur, slide)

  /** The STATEFUL half of [[slidingAggPanes]]: tumbling `slide`-sized
    * pane aggregates `(pane_start, event_type, n, sum_value)`. In a live
    * stream run THIS as the windowed stateful stage — its state is
    * window/slide× smaller than the direct sliding form's — and fold
    * panes → windows with [[panesRollup]] in foreachBatch / a downstream
    * batch over the pane sink (spec-pinned recipe in EventStreamSpec). */
  def slidingPanes(events: DataFrame, slide: String = "30 minutes",
                   watermark: String = "30 minutes"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), slide), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)")
          .as("sum_value"))
      .select(col("window.start").as("pane_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** The FOLD half of [[slidingAggPanes]]: each pane contributes its
    * partials to the ⌈window/slide⌉ windows containing it (starts
    * pane_start − i·slide, i ∈ [0, ratio)), re-summed per window. Pure
    * reassociable arithmetic over pane rows — integer micros for the
    * window starts (the 2^53 discipline), decimal partial sums re-sum
    * exactly in any order. */
  def panesRollup(panes: DataFrame, windowDur: String = "1 hour",
                  slide: String = "30 minutes"): DataFrame = {
    val wUs = intervalMicros(windowDur)
    val sUs = intervalMicros(slide)
    require(wUs > 0 && sUs > 0,
      s"positive window/slide required, got $windowDur / $slide")
    require(wUs % sUs == 0,
      s"pane rollup needs window a whole multiple of slide, " +
        s"got $windowDur / $slide")
    val ratio = wUs / sUs
    panes
      .select(unix_micros(col("pane_start")).as("_pane_us"),
        col("event_type"), col("n").as("_pn"), col("sum_value").as("_psum"))
      .select(col("_pane_us"), col("event_type"), col("_pn"), col("_psum"),
        explode(sequence(lit(0L), lit(ratio - 1))).as("_i"))
      .groupBy(timestamp_micros(col("_pane_us") - col("_i") * sUs)
          .as("window_start"), col("event_type"))
      .agg(sum(col("_pn")).as("n"),
        sum(col("_psum")).cast("decimal(18,2)").as("sum_value"))
      .select(col("window_start"), col("event_type"), col("n"),
        col("sum_value"))
  }

  /** Fixed-width duration string → microseconds, by Spark's own interval
    * grammar ("1 hour", "90 seconds"). Calendar months are rejected —
    * they are not fixed-width, so a pane count per window would not be
    * constant. */
  private def intervalMicros(s: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    require(iv.months == 0,
      s"calendar-month intervals are not fixed-width: '$s'")
    iv.days * 86400000000L + iv.microseconds
  }

  /** Sessionization with session_window: gap-based session per user —
    * the streaming twin of q36's batch cumsum formulation. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "30 minutes"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("event_time", watermark)
      .groupBy(session_window(col("event_time"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))

  /** Streaming exact dedup — the streaming twin of q14: keep the first
    * document per content fingerprint, with STATE BOUNDED BY THE WATERMARK
    * (`dropDuplicatesWithinWatermark`): a fingerprint older than the
    * horizon is evicted, so state is O(unique keys per horizon), never
    * O(stream length) — the only formulation that survives an unbounded
    * 100 TB/day ingest. The fingerprint is the md5 of the content (16
    * bytes of state per key, like the batch path — never the body).
    * Input needs (ts_ns long, `contentCol` string). */
  def streamingDedup(docs: DataFrame, contentCol: String = "content",
                     watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("event_time", timestamp_micros(expr("ts_ns div 1000")))
      .withColumn("fingerprint", md5(col(contentCol).cast("binary")))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Streaming distinct-cardinality registers —
    * [[graft.ops.Sketches.hllRegisters]]' deterministic HLL carried as a
    * STREAMING aggregation: per-(key, bucket) max(rho) is incremental,
    * order-free and replay-idempotent, so Structured Streaming maintains
    * it as BOUNDED state (≤ 2^p register rows per key — the sketch,
    * never the values; the reason a streaming `count(DISTINCT)` is
    * unbounded but this is not), and the registers after ANY prefix of
    * micro-batches equal the batch build over the same rows
    * (spec-pinned, including across multiple batches). Estimate in the
    * sink ([[graft.ops.Sketches.hllEstimate]] over the register table /
    * in foreachBatch) — estimation is a pure function of the registers,
    * so the streaming estimate is bit-identical to the batch one. */
  def streamingHllRegisters(events: DataFrame, keyCols: Seq[String],
                            valueCol: String, p: Int = 8): DataFrame =
    graft.ops.Sketches.hllRegisters(events, keyCols, valueCol, p)

  /** Streaming NEAR-dedup ingestion — the streaming face of the persisted-
    * signature contract ([[graft.ops.Dedup.minHashSignatures]]): every
    * micro-batch of (id, text) documents is LSH-joined against the
    * precomputed corpus signature table, near-dups (exact-verified Jaccard
    * >= `threshold`) are dropped, and the batch is then near-deduped
    * AGAINST ITSELF (cluster-correct: one canonical survivor per
    * intra-batch near-dup cluster) — without the intra-batch pass, two
    * near-duplicate novel docs arriving in the SAME micro-batch would both
    * survive and both enter the corpus. Per-batch cost scales with the
    * batch plus the signature table — corpus TEXT is never read, exactly
    * like the batch ingestion path (q55), so the same signature table
    * serves scheduled batches and a continuous stream without a code fork.
    * `sink` receives (survivors, batchId) and must consume them before it
    * returns; a production sink appends survivors to the corpus and their
    * signatures to the signature table —
    * [[streamingNearDedupSelfExtending]] packages exactly that loop. */
  def streamingNearDedup(batches: DataFrame, corpusSigs: DataFrame,
                         idCol: String, textCol: String,
                         shingleN: Int = 8, threshold: Double = 0.8)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batches.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // Everything the micro-batch pins is released when the sink returns.
      Caches.scoped {
        sink(dedupBatch(batch, corpusSigs, idCol, textCol, shingleN, threshold),
          batchId)
      }
    }

  /** The SELF-EXTENDING streaming ingestion loop: like
    * [[streamingNearDedup]], but the signature table lives at `sigDir`
    * (parquet, re-listed each micro-batch) and every batch's survivors have
    * their signatures APPENDED there before `sink` runs — so batch N+1
    * near-dedups against the original corpus AND every earlier batch's
    * survivors. Seed `sigDir` with
    * `Dedup.minHashSignatures(corpus, …).write.parquet(sigDir)` (an empty
    * corpus works — write the empty signature frame). The append is one
    * batch-sized parquet write per micro-batch; compact `sigDir`
    * periodically with [[graft.sinks.Compaction]] as the file count grows.
    *
    * AT-LEAST-ONCE REPLAY SEMANTICS (foreachBatch can re-run a batch after
    * a crash between the append and the sink): replays are safe by two
    * guards, with no layout or checkpoint-id bookkeeping —
    *  1. a doc is never its own duplicate: [[dedupBatch]] ignores
    *     signature matches with `new_id == corpus_id`, so a replayed
    *     batch that already appended its survivors' signatures re-derives
    *     the SAME survivor set instead of anti-joining itself away
    *     (intra-batch near-dups of a replayed survivor fall to its
    *     appended signature — same outcome as the original intra pass);
    *  2. the append is row-idempotent: only signatures whose `_id` is not
    *     already in the table are written, so a replay appends nothing.
    * Doc ids must be stable across replays and unique corpus-wide (the
    * same contract the signature table itself carries). The SINK remains
    * at-least-once — it re-receives the identical survivor frame on
    * replay and must be idempotent downstream. */
  def streamingNearDedupSelfExtending(batches: DataFrame, sigDir: String,
                                      idCol: String, textCol: String,
                                      shingleN: Int = 8, k: Int = 64,
                                      threshold: Double = 0.8)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batches.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // Everything the micro-batch pins is released when it ends.
      Caches.scoped {
        val spark = batch.sparkSession
        val sigs = spark.read.parquet(sigDir)
        // Eager local checkpoint, not a pin: it SEVERS the plan's lineage,
        // which still reads sigDir through the anti-join — Spark (rightly)
        // refuses a write to a path the same plan reads. Materialized once,
        // it also serves both consumers (signature append + sink); batch
        // survivors are micro-batch-sized, well within executor storage.
        val survivors = Caches.checkpoint(dedupBatch(batch, sigs, idCol,
          textCol, shingleN, threshold, k))
        // Row-idempotent append (replay guard 2): a signature already in the
        // table is never written again. The anti-join must also sever its
        // sigDir lineage (a checkpoint) — it reads the path it writes.
        Caches.checkpoint(graft.ops.Dedup.minHashSignatures(survivors, idCol,
            textCol, shingleN, k)
          .join(sigs.select(col("_id")), Seq("_id"), "left_anti"))
          .write.mode("append").parquet(sigDir)
        sink(survivors, batchId)
      }
    }

  /** One micro-batch's dedup: corpus anti-join, then cluster-correct
    * intra-batch near-dedup ([[graft.ops.Dedup.dedupFilter]] — a batch is
    * driver-bounded, so its pair graph takes the union-find fast path).
    * Matches with `new_id == corpus_id` are ignored — a doc is never its
    * own duplicate. That is a no-op under the static-corpus contract
    * (disjoint id spaces) and the replay guard under self-extension, where
    * a replayed batch's own signatures are already in the table. */
  private def dedupBatch(batch: DataFrame, corpusSigs: DataFrame,
                         idCol: String, textCol: String,
                         shingleN: Int, threshold: Double,
                         k: Int = 64): DataFrame = {
    val pairs = graft.ops.Dedup.minHashLshPairsAgainstSignatures(
      batch, corpusSigs, idCol, textCol, shingleN = shingleN, k = k,
      threshold = threshold)
      .where(col("new_id") =!= col("corpus_id"))
    val novel = batch.join(
      pairs.select(col("new_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
    val intra = graft.ops.Dedup.minHashLshPairs(novel, idCol, textCol,
      shingleN = shingleN, k = k, threshold = threshold)
    graft.ops.Dedup.dedupFilter(novel, idCol, intra)
  }

  /** Batch/stream parity entry: the driver's events parquet read as a
    * STREAM (file source discovers new part-files as they land), pushed
    * through the identical windowed aggregation. */
  def fromParquetDir(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    windowedAgg(graft.queries.Tables.tsNs(stream).withColumnRenamed("ts", "ts_ns"))
  }
}
