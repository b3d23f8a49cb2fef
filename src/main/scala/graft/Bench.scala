package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Driver-run benchmark: times every declared query at SPARK_GRAFT_SF_DIR,
  * then emits ONE JSON line — as the process's last bare stdout line (the
  * build forks with StdoutOutput so sbt does not prefix it) and to
  * bench.json in the working directory. A failing query fails the bench
  * loudly (exit 1) instead of benching as "fast".
  *
  * Measurement methodology (round-6 rework + round-8 hardening after three
  * rounds where ONE environment's numbers disagreed with another's at
  * identical code — r3 q45, r5 q20, r7 q20 again):
  *
  *  1. one warm run per query (Janino codegen + JIT are per-process
  *     constants, not data costs — excluded by design);
  *  2. then REPS timed runs (default 3), the reported figure the MEDIAN —
  *     a single GC pause or page-cache miss can no longer move the
  *     round-over-round headline;
  *  3. between EVERY run: `cacheManager.clearCache()` drops the previous
  *     run's internal persists, blocking unpersist actually frees the
  *     block-manager memory, an explicit GC settles the heap, and a short
  *     SETTLE SLEEP lets the async ContextCleaner finish deleting the
  *     previous run's shuffle/broadcast files — r7's q20 anomaly is
  *     consistent with that cleanup IO landing inside the next timed run
  *     on a loaded host;
  *  4. the session caps `spark.memory.storageFraction` at 0.1 (cached
  *     blocks stay evictable instead of squeezing execution memory — the
  *     other r7-q20 suspect) and makes shuffle cleanup blocking so it runs
  *     inside the isolation window, not inside a timed run;
  *  5. per-run ENVIRONMENT ATTRIBUTION: task-level GC ms, executor task
  *     ms, spill bytes, peak execution memory, shuffle write bytes, plus
  *     driver GC delta and end-of-run storage memory, recorded for the
  *     cold run and every timed run in bench.json / bench_history.jsonl —
  *     so a disagreement between two environments at the same commit is
  *     attributable (machine busy vs code regressed) instead of a mystery;
  *  6. SELF-CHECK: a timed median > 2× the query's own cold run in the
  *     same process is the persist-pathology signature, not a real
  *     steady-state — the query is re-isolated and re-measured once, and
  *     if the signature persists the bench FAILS (exit 2, artifacts still
  *     written, "suspect" named in the JSON) rather than publish a number
  *     the code doesn't explain;
  *  7. every invocation APPENDS its full per-query detail to
  *     bench_history.jsonl (git-tracked) — bench.json alone is overwritten
  *     per run, which is why r4→r5's 31% regression could not be
  *     attributed per-query. History makes regressions diagnosable.
  */
object Bench {

  /** Accumulates executor task metrics between [[reset]] and [[snap]] —
    * the per-run attribution line. Listener events are posted async; the
    * caller sleeps briefly after the run (outside the timer) so in-flight
    * task-end events drain before the snapshot. */
  private final class TaskMetricsListener extends SparkListener {
    val gcMs, taskMs, memSpill, diskSpill, peakExec, shufWrite = new AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        gcMs.addAndGet(m.jvmGCTime)
        taskMs.addAndGet(m.executorRunTime)
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        peakExec.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def reset(): Unit =
      Seq(gcMs, taskMs, memSpill, diskSpill, peakExec, shufWrite).foreach(_.set(0))
  }

  /** One run's environment line (all sizes in bytes, times in ms). */
  private final case class RunEnv(gcMs: Long, taskMs: Long, spill: Long,
                                  peakExec: Long, shufWrite: Long,
                                  driverGcMs: Long, storageUsed: Long) {
    def json: String =
      s"""{"gc_ms":$gcMs,"task_ms":$taskMs,"spill_b":$spill,""" +
        s""""peak_exec_b":$peakExec,"shuf_write_b":$shufWrite,""" +
        s""""driver_gc_ms":$driverGcMs,"storage_b":$storageUsed}"""
  }

  /** Locale-pinned "%.2f" (JSON must never see a comma decimal mark). */
  private def dp2(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))

  /** Current commit sha, resolved by reading .git directly (no subprocess
    * — the bench runs inside a forked sbt JVM). Handles both a .git
    * directory and a worktree's ".git" pointer file; detached HEADs read
    * the sha straight from HEAD. Best-effort: "unknown" on any surprise. */
  private def gitHead(root: java.nio.file.Path): String = try {
    val dotGit = root.resolve(".git")
    val gitDir =
      if (Files.isDirectory(dotGit)) dotGit
      else {
        // worktree pointer file; a relative gitdir resolves against the
        // checkout root, never the process CWD
        val p = Files.readString(dotGit).trim.stripPrefix("gitdir:").trim
        root.resolve(p).normalize()
      }
    // Worktree gitdirs keep only HEAD locally; refs/ and packed-refs live
    // in the COMMON dir named by the `commondir` file.
    val commonFile = gitDir.resolve("commondir")
    val commonDir =
      if (Files.exists(commonFile))
        gitDir.resolve(Files.readString(commonFile).trim).normalize()
      else gitDir
    val head = Files.readString(gitDir.resolve("HEAD")).trim
    if (!head.startsWith("ref:")) head
    else {
      val ref = head.stripPrefix("ref:").trim
      val refFile = commonDir.resolve(ref)
      if (Files.exists(refFile)) Files.readString(refFile).trim
      else {
        import scala.jdk.CollectionConverters._
        val packed = commonDir.resolve("packed-refs")
        if (!Files.exists(packed)) "unknown"
        else Files.readAllLines(packed).asScala
          .find(_.endsWith(" " + ref)).map(_.split(" ")(0)).getOrElse("unknown")
      }
    }
  } catch { case _: Throwable => "unknown" }

  /** SHA-256 over every file under src/main/scala PLUS the build config
    * (build.sbt and the sbt/scala/properties files under project/),
    * sorted by path —
    * the identity the flagged-run overwrite guard keys on. NOT the commit
    * sha: the driver's end-of-round snapshot commit adds artifacts without
    * touching source, so two runs of IDENTICAL engine code straddle a HEAD
    * change exactly when the guard matters most (a clean official before
    * the snapshot, the driver's own possibly-contended run after it —
    * the r17 AND r18 failure shape). Build config is part of the identity
    * (r19 advisory): a scalac-option or dependency change recompiles the
    * engine and moves its timings without touching a .scala file. */
  private def srcFingerprint(root: java.nio.file.Path): String = try {
    import scala.jdk.CollectionConverters._
    val srcRoot = root.resolve("src/main/scala")
    if (!Files.isDirectory(srcRoot)) return "unknown"
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def collect(dir: java.nio.file.Path, exts: Seq[String]): Seq[java.nio.file.Path] = {
      if (!Files.isDirectory(dir)) return Seq.empty
      // ext-filtered: an editor backup / swap file must not change the
      // identity of code that didn't change (it would silently disarm the
      // flagged-run overwrite guard). try/finally: Files.walk holds a
      // directory stream until closed.
      val walk = Files.walk(dir)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          exts.exists(p.toString.endsWith))
        .toSeq.sortBy(_.toString)
      finally walk.close()
    }
    val files = collect(srcRoot, Seq(".scala")) ++
      Seq(root.resolve("build.sbt")).filter(Files.isRegularFile(_)) ++
      collect(root.resolve("project"), Seq(".sbt", ".scala", ".properties"))
    files.foreach { p =>
      md.update(root.relativize(p).toString.getBytes("UTF-8"))
      md.update(0.toByte)
      md.update(Files.readAllBytes(p))
    }
    files.size.toString + ":" + md.digest().map("%02x".format(_)).mkString
  } catch { case _: Throwable => "unknown" }

  private def driverGcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** What to do with a FLAGGED run's artifact (r19, reworked r20 per the
    * verdict): [[Overwrite]] writes bench.json normally; [[Divert]] sends
    * the run to bench_flagged.json, optionally RESTORING an archived clean
    * official into bench.json first. */
  private[graft] sealed trait FlaggedOutcome
  private[graft] case object Overwrite extends FlaggedOutcome
  private[graft] final case class Divert(restore: Option[String])
    extends FlaggedOutcome

  /** The flagged-run divert decision, extracted pure so BenchGuardSpec can
    * pin it. A clean official = an artifact line that parses, is UNFLAGGED
    * (no contention flag, no pathology suspects) and carries a real source
    * fingerprint.
    *
    *  - Unflagged run → [[Overwrite]] always (a clean run is the official).
    *  - Flagged run, bench.json holds a clean official at THIS sf:
    *    divert when the fingerprints match, and ALSO when this run's own
    *    fingerprint is "unknown" — an uncertifiable identity fails SAFE
    *    for the protected artifact (r19 advisory: the old guard silently
    *    disarmed on fingerprint IO errors, exactly the r17/r18 failure
    *    shape it was built to stop). Only a POSITIVE mismatch (both known,
    *    different) certifies "different code" and overwrites.
    *  - Flagged run, bench.json does NOT protect (absent, corrupt, itself
    *    flagged, or a DIFFERENT sf — e.g. an sf0.001 contract interlude
    *    legitimately overwrote the sf0.1 official): consult the history
    *    archive for the newest clean official at (this sf, this
    *    fingerprint) and, if found, divert AND restore it — the manual
    *    "restore the sf0.1 line from bench_history.jsonl" discipline,
    *    automated (r19 verdict item 4). No archived match → overwrite:
    *    a flagged first measurement beats no measurement, and the
    *    artifact records its own flag. */
  private[graft] def flaggedOutcome(flaggedRun: Boolean,
                                    existingJson: Option[String],
                                    historyLines: Seq[String],
                                    sfDir: String, srcFp: String): FlaggedOutcome = {
    if (!flaggedRun) return Overwrite
    // (sf, fingerprint) of a clean official; None when the line is corrupt,
    // flagged, suspect-carrying, or fingerprint-less (a legacy artifact
    // cannot certify "same code" and must not pin a stale official).
    def cleanOfficial(js: String): Option[(String, String)] = try {
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(js)
      val fp = n.path("src_fingerprint").asText
      if (!n.path("contention").path("flagged").asBoolean(false) &&
          n.path("suspect").size == 0 && fp.nonEmpty && fp != "unknown")
        Some((n.path("sf").asText, fp))
      else None
    } catch { case _: Throwable => None }
    existingJson.flatMap(cleanOfficial) match {
      case Some((sf, fp)) if sf == sfDir &&
          (srcFp == "unknown" || fp == srcFp) => Divert(None)
      case _ if srcFp == "unknown" =>
        // Nothing certifiable protects bench.json and this run cannot
        // certify its own identity either — restore is impossible (no
        // fingerprint to match archived lines on), overwrite is the
        // only honest outcome.
        Overwrite
      case _ =>
        historyLines.reverseIterator
          .find(l => cleanOfficial(l).contains((sfDir, srcFp)))
          .map(l => Divert(Some(l)))
          .getOrElse(Overwrite)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .map(v => scala.util.Try(v.toInt).getOrElse(
        sys.error(s"SPARK_GRAFT_BENCH_RUNS must be an int, got: '$v'")))
      .getOrElse(3).max(1)
    val spark = GraftSession.build(cpus.toInt, "graft-bench", Map(
      // Storage memory stays evictable: a persisted frame (q20's signature
      // table) can never squeeze execution memory into spill thrash on a
      // memory-pressured host — it degrades to disk reads instead.
      "spark.memory.storageFraction" -> "0.1",
      // Shuffle-file cleanup becomes synchronous on the cleaner thread, so
      // the GC-triggered cleanup of run N's files completes inside the
      // isolation window instead of stealing IO from run N+1's clock.
      "spark.cleaner.referenceTracking.blocking.shuffle" -> "true"))
    spark.sparkContext.setLogLevel("WARN")
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    // Warm the session (scan paths, codegen, shuffle machinery) so the
    // first measured query doesn't absorb one-time JVM/IO costs.
    SparkEntry.entry(spark).count()
    // The warm pass must use the TARGET fixture: at a smaller scale AQE
    // picks different join strategies (broadcast vs sort-merge), compiling
    // the wrong code.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", sfDir)

    /** Drop every cached frame the previous run left behind and settle the
      * heap, so one run's persists/garbage/cleanup-IO can't distort the
      * next run. */
    def isolate(): Unit = {
      graft.core.Caches.release()
      spark.sharedState.cacheManager.clearCache()
      // clearCache() drops SQL-level cache entries but block eviction is
      // async; unpersist the underlying RDDs BLOCKING so run N's block-
      // manager memory is actually free before run N+1's timer starts.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      // Settle: the GC above queues shuffle/broadcast cleanup on the
      // ContextCleaner thread; give it a beat to drain so its file
      // deletions don't land inside the next timed run.
      Thread.sleep(200)
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

    def storageUsed(): Long =
      spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, remaining) => max - remaining }.sum

    /** One isolated, instrumented run. Returns (seconds, env) — env is
      * snapshotted AFTER the clock stops (a short drain sleep is invisible
      * to the timer). */
    def timedRun(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
                 dir: String, name: String, failHard: Boolean): (Double, RunEnv) = {
      isolate()
      listener.reset()
      val dgc0 = driverGcMs()
      val t0 = System.nanoTime()
      try fn(spark, dir).count()
      catch {
        case e: Throwable if failHard =>
          System.err.println(s"[bench] $name FAILED: $e")
          spark.stop()
          sys.exit(1)
        case _: Throwable => () // warm/cold failures surface in the timed runs
      }
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(150) // drain async task-end events before the snapshot
      val env = RunEnv(listener.gcMs.get, listener.taskMs.get,
        listener.memSpill.get + listener.diskSpill.get,
        listener.peakExec.get, listener.shufWrite.get,
        driverGcMs() - dgc0, storageUsed())
      (sec, env)
    }

    final case class QResult(med: Double, cold: Double, runs: Seq[Double],
                             coldEnv: RunEnv, runEnvs: Seq[RunEnv],
                             retried: Boolean, suspect: Boolean)

    // The persist-pathology signature: steady-state slower than the SAME
    // process's own cold run by 2x and by a non-noise margin. Only
    // meaningful when the cold run used the SAME fixture — a caller
    // overriding SPARK_GRAFT_WARM_DIR to a different scale would make the
    // comparison cross-fixture nonsense, so the gate disarms then.
    def pathological(med: Double, cold: Double): Boolean =
      warmDir == sfDir && med > 2.0 * cold && med - cold > 0.5

    def measure(name: String,
                fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): QResult = {
      val (cold, coldEnv) = timedRun(fn, warmDir, name, failHard = false)
      def reps3() = (1 to reps).map(_ => timedRun(fn, sfDir, name, failHard = true))
      var runs = reps3()
      var med = median(runs.map(_._1))
      var retried = false
      if (pathological(med, cold)) {
        // Re-isolate hard and try once more — a transiently loaded host
        // (page-cache storm, co-tenant burst) should not fail the bench.
        System.err.println(f"[bench] $name median $med%.2fs > 2x cold $cold%.2fs — re-measuring once")
        retried = true
        Thread.sleep(1000)
        val again = reps3()
        if (median(again.map(_._1)) < med) { runs = again; med = median(runs.map(_._1)) }
      }
      QResult(med, cold, runs.map(_._1), coldEnv, runs.map(_._2),
        retried, pathological(med, cold))
    }

    // ── Host-speed canary (round 18) ─────────────────────────────────────
    // The cross-run contention probe (below) compares task-ms against
    // archived runs at IDENTICAL shuffle bytes and only for queries ≥
    // 500 task-ms —
    // both gates can empty its reference set exactly when a round changes
    // plans, which is when cross-round comparison matters most (the r18
    // officials read 1.07–1.12 while the frozen-plan q01 had doubled its
    // per-task ms: a real host slowdown, under-read). This canary is a
    // fixed CPU-bound kernel — no plan, no shuffle, no history needed —
    // timed single-threaded and at the session's parallelism, before and
    // after the query sweep. Cross-round normalization: divide wall
    // totals by the canary ratio of the two runs. The kernel lives in
    // [[HostCanary]] — shared with AbBench, one definition (r19 review).
    def canary(): (Long, Long) = HostCanary.measure(cpus.toInt)
    val (canarySingle0, canaryPar0) = canary()

    val results = SparkEntry.queries.map { case (name, fn) => name -> measure(name, fn) }


    // ── PQ phase attribution: fit-once, serve-many ─────────────────────
    // q92/q94's headline includes an in-query codebook fit, but a
    // production pipeline pays fit+index ONCE and persists (pqIndex +
    // pqCodebooksDf/ivfCentroidsDf), then serves every query batch from
    // storage — the same split q73 already benches for IVF. Time the
    // three phases separately (residual IVF-PQ, the q94 configuration) so
    // the artifact records what each actually costs; phases are
    // attribution detail, NOT added to the headline total.
    val phases: Seq[(String, Double)] = try {
      import org.apache.spark.sql.functions.{col, transform}
      val emb = graft.queries.Tables.embeddings(spark, sfDir).select(
        col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("vec"))
      def timed(name: String)(f: => Unit): (String, Double) = {
        isolate()
        val t0 = System.nanoTime()
        f
        name -> (System.nanoTime() - t0) / 1e9
      }
      var cents: Seq[(Int, Seq[Double])] = null
      var books: Seq[(Int, Int, Seq[Double])] = null
      val idxDir = Files.createTempDirectory("graft-bench-pq").toString
      val fit = timed("pq_fit") {
        cents = graft.ops.Similarity.fitCentroids(emb, k = 16, iters = 2,
          maxSample = 4096)
        books = graft.ops.Similarity.pqFitCodebooksResidual(emb, cents,
          dim = 64, m = 32, ksub = 16, iters = 2, maxSample = 4096)
      }
      val build = timed("pq_index") {
        graft.ops.Similarity.pqIndexResidual(
            graft.ops.Similarity.ivfIndex(emb, cents), 64, 32, books, cents)
          .write.mode("overwrite").partitionBy("_cell").parquet(idxDir)
      }
      val serve = timed("pq_serve") {
        graft.ops.Similarity.pqTopKAgainstIndex(
          emb.where(col("id") % 50 === 0), spark.read.parquet(idxDir),
          emb, cents, books, dim = 64, m = 32,
          nprobe = 16, rerank = 80, k = 10,
          residualCents = Some(cents)).count()
      }
      // ── Graph spine phase attribution (round-12): the same fit-once/
      // serve-many split for graphs — graphIndex canonicalizes + writes
      // the bucketed spine ONCE; the AgainstIndex serves skip the
      // canonicalization shuffle every graph query otherwise pays.
      val gPrefix = "bench_spine"
      // Own catch: a graph-spine failure must report the already-measured
      // PQ fit/build/serve timings, not discard them with its own.
      val pqGraph = try {
        val gBuild = timed("graph_build") {
          graft.ops.Graph.graphIndex(
            graft.queries.AnalyticsQueries.coPurchaseW2(spark, sfDir),
            "u", "v", gPrefix, buckets = 32)
        }
        val gServe = timed("graph_serve") {
          graft.ops.Graph.pageRankAgainstIndex(spark, gPrefix, iters = 3)
            .count()
          graft.ops.Graph.kCoreAgainstIndex(spark, gPrefix, k = 3).count()
          ()
        }
        // ── Shared-frame build attribution (round-21, VERDICT item 5):
        // the custSuppEdges and coPurchase frames build in their first
        // consumer's UNTIMED cold run, so without these rows their one-time
        // cost appeared in no reported number. Attribution-only: each row
        // times the same build the frame pays (canonicalize + parquet
        // write to a discarded temp dir); the frames themselves are
        // untouched.
        val csDir = Files.createTempDirectory("graft-bench-csbuild").toString
        val cpDir = Files.createTempDirectory("graft-bench-cpbuild").toString
        val csBuild = try {
          val cs = timed("custsupp_build") {
            graft.queries.Tables.lineitem(spark, sfDir)
              .join(graft.queries.Tables.orders(spark, sfDir),
                col("l_orderkey") === col("o_orderkey"))
              .groupBy(
                org.apache.spark.sql.functions.concat(
                  org.apache.spark.sql.functions.lit("c"),
                  col("o_custkey").cast("string")).as("src"),
                org.apache.spark.sql.functions.concat(
                  org.apache.spark.sql.functions.lit("s"),
                  col("l_suppkey").cast("string")).as("dst"))
              .agg(org.apache.spark.sql.functions.count(
                org.apache.spark.sql.functions.lit(1)).as("w"))
              .write.mode("overwrite").parquet(csDir)
          }
          val li = graft.queries.Tables.lineitem(spark, sfDir)
            .select(col("l_orderkey").as("ok"),
              col("l_partkey").cast("string").as("pk"))
            .distinct()
          val cp = timed("copurchase_build") {
            li.as("a")
              .join(li.as("b"),
                col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
              .select(col("a.pk").as("u"), col("b.pk").as("v"))
              .distinct()
              .write.mode("overwrite").parquet(cpDir)
          }
          Seq(cs, cp)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] shared-frame build attribution failed: $e")
            Seq.empty
        } finally {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(csDir))
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cpDir))
        }
        Seq(fit, build, serve, gBuild, gServe) ++ csBuild
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] graph-spine phase attribution failed: $e")
          Seq(fit, build, serve)
      } finally {
        // not leaked into the warehouse catalog on a failed phase
        spark.sql(s"DROP TABLE IF EXISTS ${gPrefix}_edges")
        spark.sql(s"DROP TABLE IF EXISTS ${gPrefix}_adj")
        // the third temp parquet tree this block creates — same leak
        // class as the cluster dirs below
        org.apache.commons.io.FileUtils
          .deleteQuietly(new java.io.File(idxDir))
      }
      // ── Cluster-append phase attribution (round-16): q143's headline
      // re-generates the corpus assign AND the delta's LSH pairs every
      // timed rep, but a recurring crawl pays the corpus build ONCE and
      // then, per batch, only delta-pair generation + the fold. Split the
      // three so the artifact records the real recurring cost (the fold —
      // store streamed through broadcast joins, CC on the contracted
      // delta — is the number that must stay flat as the store grows).
      var cdir: String = null
      val clusterPhases = try {
        val docs = graft.queries.Tables.documents(spark, sfDir)
        val corpus = docs.where(col("doc_id") % 10 =!= 0)
        val batch = docs.where(col("doc_id") % 10 === 0)
        cdir = Files.createTempDirectory("graft-bench-cluster").toString
        val cBuild = timed("cluster_build") {
          val corpusPairs = graft.ops.Dedup.ngramJaccardPairs(corpus,
            "doc_id", "text", shingleN = 8, threshold = 0.8)
          graft.ops.Dedup.dedupAssign(corpus.select(col("doc_id")),
              "doc_id", corpusPairs)
            .select(col("doc_id"), col("cluster_id"))
            .write.mode("overwrite").parquet(cdir)
        }
        // The corpus signature table is the second fixed asset of the
        // append contract (round-21): built once per corpus, so the
        // recurring delta-pair phase joins the batch against STORED
        // signatures instead of re-shingling the corpus text per batch —
        // mirroring the q143 body. The build cost stays visible here.
        val cSigs = timed("cluster_sig_build") {
          graft.ops.Dedup.minHashSignatures(corpus, "doc_id", "text",
              shingleN = 8, k = 64)
            .write.mode("overwrite").parquet(s"$cdir.sigs")
        }
        val cPairs = timed("cluster_delta_pairs") {
          val cross = graft.ops.Dedup.minHashLshPairsAgainstSignatures(
              batch, spark.read.parquet(s"$cdir.sigs"),
              "doc_id", "text", shingleN = 8, k = 64, bands = 16, rows = 4,
              threshold = 0.8)
            .select(col("new_id").as("doc_a"), col("corpus_id").as("doc_b"))
          val internal = graft.ops.Dedup.minHashLshPairs(batch, "doc_id",
              "text", shingleN = 8, k = 64, bands = 16, rows = 4,
              threshold = 0.8)
            .select(col("doc_a"), col("doc_b"))
          // parquet = the phase boundary: pair generation is fully paid
          // here, the fold below starts from STORED edges exactly as a
          // crawl loop hands them over (a localCheckpoint would not
          // survive the per-phase isolate(), which unpersists all RDDs)
          cross.unionAll(internal).write.mode("overwrite")
            .parquet(s"$cdir.delta")
        }
        val cFold = timed("cluster_fold") {
          graft.ops.Dedup.clusterIndexAppend(spark.read.parquet(cdir),
            batch.select(col("doc_id")), "doc_id",
            spark.read.parquet(s"$cdir.delta")).count()
        }
        Seq(cBuild, cSigs, cPairs, cFold)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] cluster-append phase attribution failed: $e")
          Seq.empty
      } finally {
        // the graph phase drops its tables the same way — don't leak two
        // temp parquet trees per bench run (round-16 advisory)
        if (cdir != null) {
          org.apache.commons.io.FileUtils
            .deleteQuietly(new java.io.File(cdir))
          org.apache.commons.io.FileUtils
            .deleteQuietly(new java.io.File(s"$cdir.delta"))
          org.apache.commons.io.FileUtils
            .deleteQuietly(new java.io.File(s"$cdir.sigs"))
        }
      }
      pqGraph ++ clusterPhases
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] phase attribution failed: $e")
        Seq.empty
    }

    // ── Cross-run contention guard (round-10) ──────────────────────────
    // The round-9 official bench was ~3x inflated by host contention yet
    // passed the per-query self-check: median-vs-own-cold-run cannot see a
    // WHOLE-RUN slowdown (the cold run inflates by the same multiplier).
    // This guard compares executor task-ms per query against the BEST
    // archived run in bench_history.jsonl at the same sf with
    // byte-identical shuffle writes (same physical plan over the same
    // data — task-ms differences are then environment, not code), and
    // flags the artifact when the MEDIAN ratio across all comparable
    // queries with non-trivial task-ms exceeds 1.5x. Median-of-many, not
    // a single probe: one small query's task-ms swings 2x on codegen/GC
    // jitter alone (a single-probe draft of this guard false-flagged a
    // faster-than-ever run), while genuine host contention inflates every
    // query together. Flag, not fail: contention is an environment fact
    // the artifact should record, not a code defect that should discard
    // the round's numbers.
    // Locale-pinned 2-dp render: the f-interpolator delegates to
    // String.format under the JVM DEFAULT locale, so a comma-decimal host
    // would emit "median_ratio":1,50 — invalid JSON that breaks history
    // parsing. Everything else in the artifact uses Double.toString,
    // which is locale-free.
    // Second canary BEFORE the guard below: the guard's canary-normalized
    // ratios need this run's final host-speed reading. Still brackets all
    // measured work (queries + phases are done by here).
    val (canarySingle1, canaryPar1) = canary()
    // This run's host speed = the better (lower-ms) of the two probes —
    // the least-contended observation of the same fixed kernel.
    val curCanaryMs = math.min(canarySingle0, canarySingle1)

    // Jackson rides in on the Spark classpath — no new dependency.
    val om = new com.fasterxml.jackson.databind.ObjectMapper

    // ratio = raw task-ms multiple vs best archived same-plan run;
    // ratioNorm = the same multiple after scaling each archived run's
    // task-ms by (this run's canary / that run's canary) — i.e. "how much
    // slower than the archive is this run, at equal host speed". Round-19
    // addition: the r18 officials read 1.07-1.12 raw while the host itself
    // had genuinely slowed, and a contended run read 1.58 while the canary
    // was FLAT (thread-pool contention doesn't slow a single spin thread)
    // — so the normalized ratio separates "slower VM" (canary scales,
    // normalized ~1) from "contended run" (canary flat, normalized stays
    // high). The flag uses the normalized median when >= 3 archived rows
    // carry a canary (rows before r18 don't), raw otherwise.
    final case class Contention(nProbes: Int, ratio: Double,
                                nNorm: Int, ratioNorm: Option[Double],
                                flagged: Boolean) {
      def json: String = {
        val norm = ratioNorm.map(r =>
          s""","median_ratio_norm":${Bench.dp2(r)},"n_norm":$nNorm""").getOrElse("")
        s"""{"n_probes":$nProbes,"median_ratio":${Bench.dp2(ratio)}$norm,"flagged":$flagged}"""
      }
    }
    def medianLong(xs: Seq[Long]): Long =
      if (xs.isEmpty) 0L else xs.sorted.apply(xs.size / 2)
    def medianD(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val contention: Option[Contention] = {
      val histPath = Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", "/root/repo"),
        "bench_history.jsonl")
      if (!Files.exists(histPath)) None
      else {
        import scala.jdk.CollectionConverters._
        val lines = Files.readAllLines(histPath).asScala.flatMap { line =>
          scala.util.Try(om.readTree(line)).toOption
        }.filter(_.path("sf").asText() == sfDir)
        // (raw ratio, canary-normalized ratio if any archived row for this
        // query carries a host canary) per comparable query.
        val ratios: Seq[(Double, Option[Double])] =
          results.toSeq.flatMap { case (name, r) =>
            val curMs = medianLong(r.runEnvs.map(_.taskMs))
            val curShuf = medianLong(r.runEnvs.map(_.shufWrite))
            if (curMs < 500) None // too small: jitter dominates signal
            else {
              val cands = lines.flatMap { root =>
                val runs = root.path("queries_env").path(name).path("runs")
                val ms = runs.elements.asScala.map(_.path("task_ms").asLong).toSeq
                val shuf = runs.elements.asScala.map(_.path("shuf_write_b").asLong).toSeq
                // Same plan+data iff shuffle writes match within 1% — plan
                // or fixture changes move shuffle bytes and disqualify.
                if (shuf.nonEmpty && medianLong(ms) >= 500 &&
                    math.abs(medianLong(shuf) - curShuf) <= math.max(1L, curShuf / 100)) {
                  val can = root.path("host_canary").path("single_ms")
                  val canMs =
                    if (can.isArray && can.size > 0)
                      Some(can.elements.asScala.map(_.asLong).min)
                    else None
                  Some((medianLong(ms), canMs))
                } else None
              }
              if (cands.isEmpty) None
              else {
                val raw = curMs.toDouble / cands.map(_._1).min
                // Scale each archived run's ms to TODAY's host speed, then
                // compare against the best of those.
                val scaled = cands.collect {
                  case (ms, Some(c)) if c > 0 && curCanaryMs > 0 =>
                    ms.toDouble * curCanaryMs / c
                }
                val norm = if (scaled.isEmpty) None else Some(curMs / scaled.min)
                Some((raw, norm))
              }
            }
          }
        if (ratios.isEmpty) None
        else {
          val rawMed = medianD(ratios.map(_._1))
          val norms = ratios.flatMap(_._2)
          val normMed = if (norms.isEmpty) None else Some(medianD(norms))
          val flagged =
            if (norms.size >= 3) normMed.exists(_ > 1.5) else rawMed > 1.5
          Some(Contention(ratios.size, rawMed, norms.size, normMed, flagged))
        }
      }
    }
    contention.filter(_.flagged).foreach { c =>
      val normTxt = c.ratioNorm
        .map(r => f" (canary-normalized: $r%.2fx over ${c.nNorm} probes)")
        .getOrElse("")
      System.err.println(f"[bench] WARNING: median task-ms across " +
        f"${c.nProbes} comparable queries is ${c.ratio}%.2fx the best " +
        f"archived same-plan runs at identical shuffle bytes$normTxt — " +
        "this run's wall times are contention-inflated; prefer the " +
        "archived numbers.")
    }

    def jmap(f: QResult => String) =
      results.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val qs = jmap(_.med.toString)
    val qsCold = jmap(_.cold.toString)
    val qsRuns = jmap(_.runs.mkString("[", ",", "]"))
    val qsEnv = jmap(r =>
      s"""{"cold":${r.coldEnv.json},"runs":${r.runEnvs.map(_.json).mkString("[", ",", "]")}}""")
    val suspects = results.collect { case (k, v) if v.suspect => k }.toSeq
    val suspectsJson = suspects.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.map(_.med).sum else 0.0
    val totalCold = if (results.nonEmpty) results.values.map(_.cold).sum else 0.0
    // ── Serve-only headline (round 17): a handful of queries re-run a
    // deterministic FIT inside the timed body (codebook/centroid/GD
    // training a production pipeline pays once and persists), so the raw
    // total moves with re-fit cost, not recurring serve cost. serve_total
    // drops the fit-dominated queries and adds back the measured *_serve
    // phases, so round-over-round comparisons track the recurring path.
    // Membership is by construction (which queries call a fit op in the
    // timed body), not by timing.
    val fitDominated = Set(
      "q92_ann_pq",          // pqFitCodebooks in-query (pq_serve phase)
      "q94_ann_ivfpq",       // residual codebook fit (pq_serve phase)
      "q143_cluster_index_append", // corpus build + delta pairs (cluster_fold)
      "q195_classifier_fit", // the fit IS the query — no serve half
      "q197_fit_serve_sweep", // 3-epoch fit before the sweep
      "q202_ivf_compact",    // build + refresh + compact every rep
      "q203_langid_fit",     // 3 one-vs-all fits before the serve
      "q204_pq_compact")     // residual codebook fit + build + 2 rewrites
    // Add back ONLY the phases whose owning queries were dropped above
    // (pq_serve for q92/q94, cluster_fold for q143). graph_serve must
    // NOT be added: its queries (q97/q99/kCore) are not fit-dominated
    // and stay in the query sum — adding the phase would double-count
    // the graph serving work.
    val servePhases = Set("pq_serve", "cluster_fold")
    val serveTotal =
      results.collect { case (k, v) if !fitDominated(k) => v.med }.sum +
        phases.collect { case (k, v) if servePhases(k) => v }.sum
    val canaryJson =
      s""","host_canary":{"single_ms":[$canarySingle0,$canarySingle1],""" +
        s""""par_ms":[$canaryPar0,$canaryPar1],"par":${cpus.toInt}}"""
    val contentionJson =
      contention.map(c => s""","contention":${c.json}""").getOrElse("")
    val phasesJson =
      if (phases.isEmpty) ""
      else phases.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(""","phases":{""", ",", "}")
    // Anchor outputs to the repo root (not the process CWD) so the
    // git-tracked history archive can't silently land elsewhere when a
    // caller invokes the bench from another directory.
    val outRoot = Paths.get(sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", "/root/repo"))
    // Identity comes from the CHECKOUT THAT RAN (the forked JVM's working
    // dir is the sbt project base), NOT from outRoot: a bench launched
    // from a worktree writes its artifact to the main repo, and stamping
    // the artifact with the main repo's fingerprint would label worktree
    // timings as main-repo code — the exact misattribution the guard
    // exists to prevent.
    val selfRoot = Paths.get(sys.props.getOrElse("user.dir", "."))
    val head = gitHead(selfRoot)
    val srcFp = srcFingerprint(selfRoot)
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""serve_total":$serveTotal,""" +
        s""""total_first_run":$totalCold,"queries_first_run":$qsCold,""" +
        s""""runs":$reps,"queries_runs":$qsRuns,"queries_env":$qsEnv,""" +
        s""""git_head":"$head","src_fingerprint":"$srcFp",""" +
        s""""suspect":$suspectsJson$canaryJson$contentionJson$phasesJson,"sf":"$sfDir"}"""
    // ── Flagged-run-proof archiving (round-19) ──────────────────────────
    // bench.json is gitignored and was last-run-wins: in rounds 17 AND 18
    // a late contention-flagged run overwrote the clean official and
    // became the driver's BENCH_rN.json snapshot. A flagged run (contention
    // guard fired, or unexplainable medians) must NOT clobber an existing
    // UNFLAGGED bench.json for the same source fingerprint + sf — it goes
    // to bench_flagged.json instead. The history archive below records it
    // either way. Source fingerprint, not commit sha: the driver's
    // snapshot commit changes HEAD without changing engine code.
    val flaggedRun = contention.exists(_.flagged) || suspects.nonEmpty
    val benchPath = outRoot.resolve("bench.json")
    val histLines: Seq[String] = {
      val hp = outRoot.resolve("bench_history.jsonl")
      if (!Files.exists(hp)) Seq.empty
      else {
        import scala.jdk.CollectionConverters._
        scala.util.Try(Files.readAllLines(hp).asScala.toSeq)
          .getOrElse(Seq.empty)
      }
    }
    flaggedOutcome(flaggedRun,
      if (Files.exists(benchPath))
        scala.util.Try(Files.readString(benchPath)).toOption
      else None,
      histLines, sfDir, srcFp) match {
      case Divert(restore) =>
        Files.writeString(outRoot.resolve("bench_flagged.json"), full + "\n")
        restore match {
          case Some(line) =>
            Files.writeString(benchPath, line + "\n")
            System.err.println("[bench] flagged run NOT written to " +
              "bench.json — restored the newest archived clean official " +
              "for this sf + source fingerprint instead; this run went " +
              "to bench_flagged.json.")
          case None =>
            System.err.println("[bench] flagged run NOT written to " +
              "bench.json — an unflagged official exists there for the " +
              "same source fingerprint and sf; this run went to " +
              "bench_flagged.json.")
        }
      case Overwrite => Files.writeString(benchPath, full + "\n")
    }
    // Append-only archive (git-tracked): every invocation — builder-local
    // and driver-run alike — lands here, so any round's per-query numbers
    // stay diffable against any other round's.
    val hist = outRoot.resolve("bench_history.jsonl")
    Files.writeString(hist, full + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    System.err.println(s"[bench] per-query detail appended to ${hist.toAbsolutePath}")
    // The driver captures only a ~2 KB TAIL of stdout: rounds 1-3 printed
    // the full per-query JSON (~2.2 KB) as the last line and it arrived
    // front-truncated — "parsed": null three rounds running. The final
    // stdout line must therefore be SHORT (<200 bytes): headline metric
    // only. Per-query detail lives in bench.json / bench_history.jsonl.
    val shortSuspect =
      if (suspects.isEmpty) "" else s""","suspect":$suspectsJson"""
    val shortContention = contention.filter(_.flagged)
      .map(c => s""","contention_ratio":${Bench.dp2(c.ratio)}""").getOrElse("")
    val short = s"""{"metric":"total","value":$total,"unit":"sec"$shortSuspect$shortContention,"sf":"$sfDir"}"""
    // Silence ALL further logging (incl. the post-main ShutdownHookManager
    // INFO lines that otherwise print AFTER our JSON when the driver merges
    // stdout+stderr), stop Spark, THEN print — the JSON line is the final
    // line of the process's output, machine-parsable by the driver.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(short)
    Console.out.flush()
    if (suspects.nonEmpty) {
      // The gate from the round-7 review: a timed median that the query's
      // own cold run can't explain is a measurement artifact — fail loudly
      // (artifacts above are already written) instead of publishing it.
      System.err.println(s"[bench] FAIL: unexplainable medians (median > 2x own cold run) for: ${suspects.mkString(", ")}")
      sys.exit(2)
    }
  }
}
