package graft.ops

import graft.core.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Exprs

/** Relational operator pack (SURVEY.md §2.4–§2.7) — thin, composable
  * wrappers over the declarative DataFrame API so Catalyst keeps full
  * visibility (pushdown, pruning, partial aggregation, broadcast planning).
  */
object Ops {

  /** U1–U5: wide -> long unpivot. `Spark.unpivot` gives a single Expand node
    * (no shuffle; scales linearly with input). */
  def meltToLong(df: DataFrame, idCols: Seq[String], valueCols: Seq[String],
                 varName: String, valName: String): DataFrame =
    df.unpivot(idCols.map(graft.core.SchemaOps.qcol).toArray, valueCols.map(graft.core.SchemaOps.qcol).toArray, varName, valName)

  /** A5: first-per-group under an explicit total order (never rely on
    * incidental row order — Spark partitions are unordered). */
  def firstPerGroup(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
  }

  /** A7: order-preserving distinct — keep the first occurrence by an explicit
    * order column (pandas dict-dedupe semantics made shuffle-safe).
    * Ref: /root/reference/247/tools/read_file_tool.py:242. */
  def distinctKeepFirst(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame =
    firstPerGroup(df, keyCols, Seq(col(orderCol).asc))

  /** O1: numeric-aware sort — numeric strings by value (non-numeric last),
    * then lexical tiebreak. */
  def numericAwareSort(df: DataFrame, c: String, rest: Column*): DataFrame =
    df.orderBy((Exprs.numericSortKey(col(c)).asc_nulls_last +: col(c).asc +: rest).toIndexedSeq: _*)

  /** Global 1-based row numbers under a TOTAL order, computed scalably:
    * `row_number() OVER (ORDER BY …)` with no partition key forces every row
    * onto one task, which is the classic 100 TB single-machine bottleneck.
    * Instead: range-partitioned parallel sort (what orderBy plans anyway),
    * persisted once, then per-partition offsets from a tiny count over the
    * cached frame — no data movement beyond the sort itself.
    *
    * `order` must be a total order (include a unique tiebreak column);
    * otherwise rows equal under `order` get an arbitrary stable-but-
    * unspecified relative numbering. */
  def globalRowNumber(df: DataFrame, order: Seq[Column], outName: String): DataFrame = {
    // Range-partition by the sort key: partition i holds keys strictly below
    // partition i+1's, so a global rank = rank within my partition + total
    // rows in partitions before mine.
    //
    // The per-partition rank is NOT a window: row_number() OVER
    // (PARTITION BY pid) would demand hashpartitioning(pid) — a second full
    // shuffle of every row right after the range exchange (measured: the
    // window formulation shuffled the data twice and evaluated the subplan
    // three times, no ReusedExchange). Instead, after the in-partition sort,
    // monotonically_increasing_id() encodes exactly what the window would
    // compute — upper 31 bits the partition id, lower 33 bits the 0-based
    // record ordinal in partition order — as a codegen'd projection with NO
    // data movement. Partition sizes are then a map-side-combined count
    // (#partitions rows), their running offsets a tiny self-join, and the
    // offsets broadcast back. One range shuffle total; the sorted frame is
    // persisted so the rank and count branches share one evaluation.
    //
    // `order` must be a total order (include a unique tiebreak column):
    // that makes the sort — and therefore the ids — deterministic under
    // task retry and cache-block recomputation.
    //
    // The sort keys are MATERIALIZED as columns first: SortExec's generated
    // comparator re-evaluates the SortOrder expressions on every COMPARISON
    // (n log n of them, and only prefix ties short-circuit — a low-card
    // first key means almost none do), so an expensive key expression (q34
    // sorts on two regexes) must be computed once per ROW, not once per
    // comparison. Measured at sf0.1: 4.2 s of comparator regex time -> key
    // lookups.
    // Widen narrow inputs BEFORE computing the (expensive) sort keys: a
    // single-row-group parquet file scans as ONE task no matter how many
    // byte splits the planner makes, and the range partitioner evaluates
    // the key projection in both its sample pass and its shuffle-map pass —
    // serial regex evaluation twice over. One cheap shuffle of the narrow
    // input rows moves both passes onto every core (and the sample then
    // re-reads the repartition's shuffle files instead of re-running the
    // scan). Distribution key = hash of the whole row, NOT round-robin:
    // round-robin repartition must locally sort rows first for retry
    // determinism (spark.sql.execution.sortBeforeRepartition), which costs
    // more than the shuffle itself; a row-hash is retry-stable for free.
    // A wide input (any real cluster scan, with splits >= cores) skips
    // this — no extra data movement at scale.
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val widened = if (df.rdd.getNumPartitions < cores)
      df.repartition(cores, xxhash64(df.columns.map(col).toIndexedSeq: _*)) else df
    val mask = (1L << 33) - 1
    val unwrapped = order.map(org.apache.spark.sql.GraftSqlBridge.unwrapSortOrder)
    val keyNames = unwrapped.indices.map(i => s"_gk$i")
    val proj = widened.select(col("*") +:
      unwrapped.zip(keyNames).map { case ((c, _, _), n) => c.as(n) }: _*)
    val matOrder = unwrapped.zip(keyNames).map { case ((_, asc, nf), n) =>
      (asc, nf) match {
        case (true, true)   => col(n).asc_nulls_first
        case (true, false)  => col(n).asc_nulls_last
        case (false, true)  => col(n).desc_nulls_first
        case (false, false) => col(n).desc_nulls_last
      }
    }
    // ONE range exchange with an EXPLICITLY PINNED partition count: an
    // explicit numPartitions plans the shuffle as REPARTITION_BY_NUM, which
    // AQE's CoalesceShufflePartitions never touches, so every read is a 1:1
    // reducer mapping and the mono_id upper bits below are exactly the
    // range-bucket index.
    //
    // The ranked frame is PERSISTED, and the partition counts are derived
    // FROM IT, with the partition id recomputed from the _mid column AS
    // DATA. This is a correctness requirement, not a tuning choice — the
    // graveyard of cheaper designs, each tried and each wrong:
    //  * round 3 computed counts in a SIBLING branch via
    //    spark_partition_id() over the same `shuffled` val, relying on AQE
    //    exchange reuse + identical coalescing. Both assumptions fail:
    //    column pruning strips the payload columns from the counts branch,
    //    so the two exchange subtrees are NOT canonically equal and
    //    ReusedExchange never fires — each branch runs its own physical
    //    range shuffle;
    //  * and two physically separate range shuffles do NOT bucket rows
    //    identically even over identical input: RangePartitioner seeds its
    //    reservoir sampling with rdd.id (a global counter —
    //    Partitioner.scala `val shift = rdd.id`), so each exchange samples
    //    different rows and picks DIFFERENT range boundaries. Partition
    //    sizes then differ between branches, offsets attach to the wrong
    //    buckets, and the round-3 inner join silently dropped rows (q34:
    //    30 352 of 60 000) while a pinned-count retry produced duplicate
    //    ranks instead. Deterministic-seed reasoning does not rescue any
    //    two-exchange design.
    // With Caches.pin, both the counts read and the final output read
    // resolve to the SAME InMemoryRelation: one sort, one materialization,
    // and the pid space is definitionally consistent because _mid is data
    // in the cached blocks (eviction recompute re-runs the deterministic
    // sort — `order` is total — and reproduces identical ids). The cache
    // holds payload+keys once; the alternative sound design (RDD
    // zipWithIndex) pays the sort twice plus InternalRow conversion.
    val parts = math.max(
      df.sparkSession.sessionState.conf.numShufflePartitions,
      df.sparkSession.sparkContext.defaultParallelism)
    val shuffled = proj.repartitionByRange(parts, matOrder: _*)
    // monotonically_increasing_id after the in-partition sort encodes
    // (partition id << 33 | 0-based ordinal in sorted order).
    val ranked = Caches.pin(shuffled.sortWithinPartitions(matOrder: _*)
      .withColumn("_mid", monotonically_increasing_id()))
    val counts = ranked
      .groupBy(shiftrightunsigned(col("_mid"), 33).as("_pid"))
      .agg(count(lit(1)).as("_cnt"))
    // Running offsets: a single-task window over #partitions rows (tiny by
    // construction — 32 locally, a few thousand on a real cluster).
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("_pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = counts.select(col("_pid"),
      coalesce(sum(col("_cnt")).over(w), lit(0L)).as("_off"))
    // LEFT join + loud failure: the pid spaces are definitionally identical
    // now (both derived from the cached _mid column), but if any future
    // change breaks that, a ranked pid with no counts row must RAISE, not
    // be silently dropped (round 3's inner join lost half of q34's rows).
    // coalesce() short-circuits, so raise_error evaluates only on the
    // failure path; the happy path is a null check per row.
    val off = coalesce(col("_off"),
      raise_error(concat(lit("globalRowNumber: no offset for partition "),
        col("_pid").cast("string"))).cast("long"))
    // Output rows stay in (partition, ordinal) order — i.e. already
    // globally sorted by outName; callers need no re-sort.
    ranked.withColumn("_pid", shiftrightunsigned(col("_mid"), 33))
      .join(broadcast(offsets), Seq("_pid"), "left")
      .withColumn(outName,
        col("_mid").bitwiseAND(lit(mask)) + off + lit(1L))
      .drop(Seq("_pid", "_mid", "_off") ++ keyNames: _*)
  }

  /** J1/J2/J3: small-dimension enrich — explicitly broadcast so the plan is a
    * BroadcastHashJoin regardless of statistics availability. */
  def enrichLeft(fact: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    fact.join(broadcast(dim), keys, "left")

  /** J6: as-of join — for each left row, attach the right row with the
    * largest `rightTime` <= `leftTime` within the same key group (the
    * point-in-time lookup every feature/training pipeline needs; Spark has
    * no native ASOF JOIN). Left-join semantics: unmatched left rows keep
    * null right columns.
    *
    * 100 TB shape: tag-and-union both sides, ONE shuffle on the key, then a
    * per-key window carries the latest right ROW (packed as one struct so
    * all right columns come from the same match) forward onto left rows —
    * never a range self-join (quadratic on hot keys) and never a global
    * sort. Equal timestamps: right sorts before left, so "at or before" is
    * inclusive. Right rows should be unique per (key, time) — pre-aggregate
    * otherwise, or the tie-winner among equal right times is unspecified.
    *
    * `leftTime`/`rightTime` must be the same (orderable) type; non-key
    * column names must not overlap across sides. */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String): DataFrame = {
    val lOnly = left.columns.filterNot(keys.contains).toSeq
    val rOnly = right.columns.filterNot(keys.contains).toSeq
    require(lOnly.intersect(rOnly).isEmpty,
      s"asofJoin: overlapping non-key columns: ${lOnly.intersect(rOnly).mkString(", ")}")
    val rType = org.apache.spark.sql.types.StructType(rOnly.map(c => right.schema(c)))
    val lPart = left.select(keys.map(col) ++ Seq(
      col(leftTime).as("_t"), lit(1).as("_isL"),
      lit(null).cast(rType).as("_r")) ++ lOnly.map(col): _*)
    val rPart = right.select(keys.map(col) ++ Seq(
      col(rightTime).as("_t"), lit(0).as("_isL"),
      struct(rOnly.map(col): _*).as("_r")) ++
      lOnly.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("_t").asc, col("_isL").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    lPart.unionByName(rPart)
      .withColumn("_r", last(col("_r"), ignoreNulls = true).over(w))
      .where(col("_isL") === 1)
      .select(keys.map(col) ++ lOnly.map(col) ++
        rOnly.map(c => col("_r").getField(c).as(c)): _*)
  }

  /** Skew-safe equi-join for when the right side is too big to broadcast
    * and the key distribution is skewed: the left (skewed) side gets a
    * random salt in [0, salts), the right side is replicated once per salt
    * value, and the join key becomes (key, salt) — a hot key's rows now
    * spread over `salts` shuffle partitions instead of one straggler.
    * AQE's skew-join handles moderate skew automatically; explicit salting
    * is for the pathological keys AQE can't split (single-key hotspots).
    * Inner join; output columns = left ++ right-minus-keys. */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    // The salt must be RETRY-STABLE: rand() is deterministic only per
    // partitioning, so a task retry after AQE re-coalescing could re-deal
    // salts and double/drop rows mid-join. Hash the whole row instead —
    // pure function of the data, invariant under partitioning and retries.
    // (Identical duplicate rows share a salt; they are interchangeable, so
    // the spread over buckets is unaffected for distinct-row workloads.)
    val l = left.withColumn("_salt",
      pmod(xxhash64(left.columns.map(col).toIndexedSeq: _*), lit(salts)).cast("int"))
    val r = right.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    l.join(r, keys :+ "_salt").drop("_salt")
  }

  /** Interval (range) join without equi-keys — "points ⋈ intervals on
    * start <= ts < end" — via TIME BUCKETIZATION: Spark plans a bare range
    * predicate as BroadcastNestedLoopJoin (every point × every interval —
    * dead at 100 TB). Instead each interval explodes to the fixed-width
    * buckets it overlaps, each point maps to exactly ONE bucket, and the
    * pair meets in a plain hash equi-join on the bucket id, re-filtered by
    * the exact predicate. Work is O(points + intervals · span/bucketWidth
    * + true matches): exact output, shuffle keyed on a long.
    *
    * `bucketWidth` tunes the duplication-vs-selectivity trade: pick it
    * near the TYPICAL interval length (each interval then explodes to ~2
    * buckets and each point meets only intervals within one bucket's
    * reach). Pathologically long intervals are SELF-DEFENDED: any interval
    * spanning more than `directBuckets` buckets takes a two-stage √-split
    * (see [[explodeBuckets]]) so no single task materializes more than
    * ~√(span/bucketWidth) array elements and one corpus-length interval
    * can no longer pin a straggler task. The join stays exact either way.
    *
    * Domain: ts/start/end must be non-negative longs (epoch micros/nanos —
    * SQL `div` truncates toward zero, so negative epochs would misalign
    * bucket boundaries). `end <= start` intervals are empty and dropped. */
  def intervalJoin(points: DataFrame, tsCol: String,
                   intervals: DataFrame, startCol: String, endCol: String,
                   bucketWidth: Long, directBuckets: Int = 256): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val b = s"CAST($bucketWidth AS BIGINT)"
    val p = points.withColumn("_ivb", expr(s"`$tsCol` div $b"))
    val iv = explodeBuckets(intervals, startCol, endCol, bucketWidth, directBuckets)
    p.join(iv, Seq("_ivb"))
      .where(col(tsCol) >= col(startCol) && col(tsCol) < col(endCol))
      .drop("_ivb")
  }

  /** Bucket-explode for the interval joins, safe against pathological
    * interval lengths. Intervals spanning <= `directBuckets` buckets (the
    * typical ~2-bucket case) explode in place — one codegen'd `sequence`,
    * no extra shuffle. Longer intervals take a TWO-STAGE √-SPLIT: explode
    * to ~√nb chunk rows, redistribute by chunk id, then explode each chunk
    * to ~√nb buckets — a 10⁹-bucket interval costs two ~32k-element
    * explodes spread over the cluster instead of one 10⁹-element array in
    * one task (which would also trip sequence()'s array-length ceiling).
    * The branches are disjoint on span and unioned; the long branch is
    * empty (and near-free) for well-bucketed workloads. Emits `_ivb`. */
  private def explodeBuckets(df: DataFrame, startCol: String, endCol: String,
                             bucketWidth: Long, directBuckets: Int): DataFrame = {
    require(directBuckets > 0, "directBuckets must be positive")
    val b = s"CAST($bucketWidth AS BIGINT)"
    val base = df.where(col(endCol) > col(startCol))
      .withColumn("_b0", expr(s"`$startCol` div $b"))
      .withColumn("_b1", expr(s"(`$endCol` - 1) div $b"))
    val nb = col("_b1") - col("_b0") + lit(1L)
    val short = base.where(nb <= directBuckets)
      .withColumn("_ivb", explode(sequence(col("_b0"), col("_b1"))))
    val long = base.where(nb > directBuckets)
      .withColumn("_ck", greatest(ceil(sqrt(nb.cast("double"))).cast("long"), lit(1L)))
      .withColumn("_cb", explode(sequence(col("_b0"), col("_b1"), col("_ck"))))
      .repartition(col("_cb"))
      .withColumn("_ivb", explode(sequence(
        col("_cb"), least(col("_cb") + col("_ck") - 1, col("_b1")))))
      .drop("_ck", "_cb")
    short.unionByName(long).drop("_b0", "_b1")
  }

  /** Interval OVERLAP join — half-open `[ls, le) × [rs, re)` pairs with
    * `ls < re && rs < le` — same bucketization as [[intervalJoin]], with
    * the duplicate-meeting trick: an overlapping pair shares up to
    * span/bucketWidth buckets, so the exact predicate keeps a pair only in
    * the ONE canonical bucket holding the overlap's start
    * (`greatest(ls, rs) div bucketWidth`) — a local codegen'd filter, no
    * distinct, no second shuffle. Column names must not collide across
    * sides. Same non-negative-domain contract as [[intervalJoin]]. */
  def intervalOverlapJoin(left: DataFrame, lStart: String, lEnd: String,
                          right: DataFrame, rStart: String, rEnd: String,
                          bucketWidth: Long, directBuckets: Int = 256): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val b = s"CAST($bucketWidth AS BIGINT)"
    explodeBuckets(left, lStart, lEnd, bucketWidth, directBuckets)
      .join(explodeBuckets(right, rStart, rEnd, bucketWidth, directBuckets), Seq("_ivb"))
      .where(col(lStart) < col(rEnd) && col(rStart) < col(lEnd) &&
        col("_ivb") === expr(s"greatest(`$lStart`, `$rStart`) div $b"))
      .drop("_ivb")
  }

  /** Incremental snapshot delta — the "what changed since the last crawl"
    * primitive that lets a 100 TB pipeline reprocess only the delta
    * instead of the corpus: per-id status ∈ added / removed / changed /
    * unchanged between two snapshots, decided by comparing an md5 content
    * fingerprint of `contentCols` (never the content itself — at scale
    * both sides reduce to (id, 16-byte fp) at their scans, and the single
    * full-outer shuffle join carries fingerprints only; bucket both
    * snapshots by id to make it co-located). `contentCols` are encoded
    * SELF-DELIMITING before hashing — null → "n:", value v →
    * "v<len>:<v>" — so no value can imitate a null, no null a value,
    * and no field content can smear across a field boundary: fingerprint
    * equality ⇔ per-field content equality, exactly (an earlier draft
    * let concat_ws skip nulls, which reported null transitions
    * 'unchanged'; under-detection is the unsafe direction for a
    * delta-reprocessing primitive). `idCol` must be
    * unique within each snapshot
    * (the usual snapshot invariant); duplicate ids would cross-multiply
    * in the join and over-report the delta. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                   contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "snapshotDiff needs at least 1 content col")
    def fp(df: DataFrame, name: String) = df.select(
      col(idCol),
      md5(concat(
        contentCols.map { c =>
          val v = col(c).cast("string")
          when(v.isNull, lit("n:"))
            .otherwise(concat(lit("v"), length(v), lit(":"), v))
        }: _*)
        .cast("binary")).as(name))
    fp(oldDf, "_fp_old")
      .join(fp(newDf, "_fp_new"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("_fp_old").isNull, lit("added"))
          .when(col("_fp_new").isNull, lit("removed"))
          .when(col("_fp_old") === col("_fp_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Sessionization — split each key's event stream into sessions at
    * inactivity gaps, the standard segmentation for clickstreams /
    * interaction logs / agent-trajectory training data: a new session
    * starts at the first event and at every event whose distance from
    * the previous one (same key) EXCEEDS `gap` (same time unit as
    * `tsCol`). Events are annotated, not aggregated — compose any
    * per-session rollup on (key, session_seq) downstream.
    *
    * Scale shape: ONE exchange on the key; both window passes (the lag
    * and the running session counter) run inside the same per-key sort —
    * Spark plans a single Sort + two Window operators, no second
    * shuffle. Sessions never cross keys, so key-partitioning is the
    * natural 100 TB layout (bucket the log by key to remove even that
    * exchange).
    *
    * Determinism under timestamp ties: tied events have distance 0 ≤ gap,
    * so a tie can never start a session — every tied row lands in the
    * same session whatever order the sort breaks the tie, making
    * `session_seq` a pure function of the (key, ts multiset) stream.
    *
    * Output: the input rows plus `session_seq` (1-based session ordinal
    * within the key). */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String,
                 gap: Long): DataFrame = {
    require(gap >= 0, "gap must be >= 0")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(tsCol))
    val wRun = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    events
      .withColumn("_prev", lag(col(tsCol), 1).over(w))
      .withColumn("_new",
        when(col("_prev").isNull || col(tsCol) - col("_prev") > gap, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("_new")).over(wRun))
      .drop("_prev", "_new")
  }

  /** Ordered-step session funnel — the user-journey report over
    * [[sessionize]]'s segments: for each session, how far along the
    * step sequence (view → click → purchase, …) it gets, where step k
    * counts only when its event occurs STRICTLY AFTER the event that
    * satisfied step k−1 (ordered-subsequence semantics; the greedy
    * earliest chain t_k = min ts of step k after t_{k−1} decides
    * subsequence existence exactly). Simultaneous timestamps do not
    * chain — strictness is the stated tie rule, and the result is a
    * pure function of the event multiset (no window-order dependence).
    *
    * Scale shape: sessionization is one exchange on the key; each
    * funnel step is one map-side-combined aggregate over the sessions
    * (step count × session-sized frames, never event-crossed joins
    * beyond the per-session co-group); the final funnel is a one-row
    * aggregate exploded to `steps.size` rows. Output:
    * (step_idx BIGINT 1-based, step, sessions BIGINT — sessions
    * reaching the step in order, conversion_ppm BIGINT — floored ppm of
    * ALL sessions). */
  def sessionFunnel(events: DataFrame, keyCol: String, tsCol: String,
                    typeCol: String, steps: Seq[String],
                    gap: Long): DataFrame = {
    require(steps.nonEmpty, "sessionFunnel: steps must be non-empty")
    val sess = sessionize(events, keyCol, tsCol, gap)
      .select(col(keyCol), col("session_seq"), col(tsCol), col(typeCol))
    var cur: DataFrame = sess.groupBy(col(keyCol), col("session_seq"))
      .agg(min(when(col(typeCol) === steps.head, col(tsCol))).as("_t1"))
    for (i <- 1 until steps.size) {
      val carried = (1 to i).map(j => col(s"_t$j"))
      cur = sess.join(cur, Seq(keyCol, "session_seq"))
        .groupBy(Seq(col(keyCol), col("session_seq")) ++ carried: _*)
        .agg(min(when(col(typeCol) === steps(i) &&
          col(tsCol) > col(s"_t$i"), col(tsCol))).as(s"_t${i + 1}"))
    }
    val wide = cur.agg(count(lit(1)).as("_total"),
      steps.indices.map(i => count(col(s"_t${i + 1}")).as(s"_c${i + 1}")): _*)
    val rows = steps.indices.map(i => struct(
      lit((i + 1).toLong).as("step_idx"), lit(steps(i)).as("step"),
      col(s"_c${i + 1}").as("sessions")))
    wide.select(col("_total"), explode(array(rows: _*)).as("s"))
      .select(col("s.step_idx").as("step_idx"), col("s.step").as("step"),
        col("s.sessions").as("sessions"),
        when(col("_total") > 0,
          expr("s.sessions * CAST(1000000 AS BIGINT) div _total"))
          .otherwise(lit(0L)).as("conversion_ppm"))
  }

  /** SCD-2 history build — collapse a change log into slowly-changing-
    * dimension validity intervals: per key, consecutive rows with equal
    * `valueCols` merge into one VERSION with `valid_from` = its first
    * timestamp and `valid_to` = the next version's `valid_from` (NULL
    * for the current version — the half-open [from, to) convention).
    * Value comparison is null-safe (NULL is a value, not a wildcard).
    * Rows are ordered by (ts, valueCols) — the value tie-break makes the
    * versioning a pure function of the row multiset even when one key
    * carries equal timestamps.
    *
    * Scale shape: one exchange on the key; both window passes and the
    * run-length groupBy share the per-key sort, and the version table
    * (≤ one row per value change) is what shuffles to the final lead()
    * pass — bounded by changes, not by log rows. Output: (keyCol,
    * version BIGINT 1-based, valueCols*, valid_from, valid_to,
    * n_rows BIGINT). */
  def scd2History(log: DataFrame, keyCol: String, tsCol: String,
                  valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "scd2History: valueCols must be non-empty")
    val W = org.apache.spark.sql.expressions.Window
    val ord = col(tsCol) +: valueCols.map(col)
    val w = W.partitionBy(col(keyCol)).orderBy(ord.map(_.asc): _*)
    val changed = valueCols
      .map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduce(_ || _)
    val versioned = log
      .withColumn("_new",
        when(lag(col(tsCol), 1).over(w).isNull || changed, 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("_new")).over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow)))
    val runs = versioned
      .groupBy(col(keyCol) +: col("version") +: valueCols.map(col): _*)
      .agg(min(col(tsCol)).as("valid_from"), count(lit(1)).as("n_rows"))
    runs.withColumn("valid_to",
      lead(col("valid_from"), 1).over(
        W.partitionBy(col(keyCol)).orderBy(col("version").asc)))
  }

  /** First-order Markov transition matrix over per-key ordered event
    * streams — the behavioral summary next to [[sessionFunnel]] (the
    * funnel checks ONE path; this reports every consecutive-pair
    * probability): counts of (state → next state) over each key's
    * `ord`-ordered stream, with the row-conditional probability in
    * floored ppm (cnt·10⁶ div Σ_from — exact integers). Pass a total
    * `ord` (e.g. timestamp THEN event id — the q152 convention) so
    * transitions are a pure function of the row multiset.
    *
    * Scale shape: one key exchange + the shared per-key sort for the
    * lead() pass; everything after is sized by distinct state PAIRS.
    * Output: (from_type, to_type, cnt BIGINT, p_ppm BIGINT). */
  def transitionMatrix(events: DataFrame, keyCol: String, typeCol: String,
                       ord: Seq[Column]): DataFrame = {
    require(ord.nonEmpty, "transitionMatrix: ord must be non-empty")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(ord: _*)
    val pairs = events
      .withColumn("_next", lead(col(typeCol), 1).over(w))
      .where(col("_next").isNotNull)
    val c = pairs.groupBy(col(typeCol).as("from_type"),
        col("_next").as("to_type"))
      .agg(count(lit(1)).as("cnt"))
    val tot = c.groupBy(col("from_type")).agg(sum(col("cnt")).as("_ft"))
    c.join(tot, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("cnt"),
        expr("cnt * CAST(1000000 AS BIGINT) div _ft").as("p_ppm"))
  }

  /** Pairwise co-occurrence lift (market-basket association) over
    * (key, item) observations: for each item pair a < b, the number of
    * keys holding both, plus support and lift in deterministic units —
    * support_ppm = n_ab·10⁶ div n (floored integers); lift = the
    * classic n·n_ab / (n_a·n_b), published as floor(·10⁶) of ONE IEEE
    * chain over the four exact counts (the counts exceed 2⁵³ products
    * long before any real corpus does — the double chain is
    * bit-identical across engines either way).
    *
    * Scale shape: baskets dedupe map-side; the pair self-join shuffles
    * on the key with per-key work bounded by basket size² (an
    * event-vocabulary constant here; cap baskets upstream for unbounded
    * item domains); aggregates are item- and pair-sized. Output:
    * (item_a, item_b, n_ab, support_ppm, lift_ppm — BIGINT). */
  def basketLift(df: DataFrame, keyCol: String, itemCol: String): DataFrame = {
    val b = df.select(col(keyCol).as("_k"), col(itemCol).as("_i")).distinct()
    val n1 = b.groupBy(col("_i")).agg(count(lit(1)).as("_ni"))
    val nTot = b.select(col("_k")).distinct().agg(count(lit(1)).as("_n"))
    val pairs = b.as("x").join(b.as("y"),
        col("x._k") === col("y._k") && col("x._i") < col("y._i"))
      .groupBy(col("x._i").as("item_a"), col("y._i").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(n1.select(col("_i").as("item_a"), col("_ni").as("_na")), Seq("item_a"))
      .join(n1.select(col("_i").as("item_b"), col("_ni").as("_nb")), Seq("item_b"))
      .crossJoin(broadcast(nTot))
      .select(col("item_a"), col("item_b"), col("n_ab"),
        expr("n_ab * CAST(1000000 AS BIGINT) div _n").as("support_ppm"),
        floor(col("_n").cast("double") * col("n_ab").cast("double") *
          lit(1000000.0) /
          (col("_na").cast("double") * col("_nb").cast("double")))
          .cast("long").as("lift_ppm"))
  }
}
