package graft.core

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** The one loop driver of the engine's iterative ops (graph rounds, star
  * contraction, BPE merges, integer-GD epochs). An op supplies its step
  * function — and, for a fixpoint, its convergence test — and Rounds owns:
  *
  *  - the loop: a fixed round count ([[fixed]]), a count with an early
  *    stop ([[upTo]]), or rounds to a fixpoint ([[fixpoint]]);
  *  - pin before branch: a round that a later round reads is pinned
  *    ([[Caches.pin]]) before that later round is built. Catalyst plans a
  *    repeated subtree as separate work, so an unpinned round that each
  *    step reads twice grows the plan into a tree of 2ᵏ copies;
  *  - truncation: every `every` rounds a round is materialized and its
  *    lineage cut — an eager [[Caches.checkpoint]] by default (fast, but
  *    lost with its executor: a local[N]/interactive setting), or with
  *    `dir` a parquet write read back (reliable storage, so a preempted
  *    executor does not kill a 50-round job);
  *  - release: once a truncation is materialized, the rounds it
  *    supersedes are dropped (pins unpinned, round files deleted), unless
  *    `keepHistory` keeps every round because each backs the result. The
  *    rounds the result reads live until [[Caches.release]]; with `dir`
  *    the caller deletes the directory after consuming the result.
  *
  * Round files are named `<tag>_i<instance>_<n>`: the process-wide
  * instance salt keeps two loops sharing one `dir` from overwriting or
  * deleting each other's rounds (distinct JVMs need distinct dirs). */
object Rounds {

  private val ids = new AtomicInteger(0)

  /** `rounds` rounds of `step` from `init`; `step(prev, r)` builds round
    * `r` (1-based). Every `every`-th round is truncated, the others
    * before the last are pinned, and the last stays lazy. */
  def fixed(init: DataFrame, rounds: Int, tag: String, every: Int = 1,
            dir: Option[String] = None, keepHistory: Boolean = false)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    require(rounds >= 0 && every >= 1, s"$tag: need rounds >= 0, every >= 1")
    val s = new Store(dir, tag, keepHistory)
    (1 to rounds).foldLeft(init) { (prev, r) =>
      val next = step(prev, r)
      if (r == rounds) next
      else if (r % every == 0) s.truncate(next)
      else s.pin(next)
    }
  }

  /** At most `rounds` rounds of `step` from `init`, stopping early when
    * `step` returns None. `init` and every round but the last are
    * truncated; the last stays lazy. */
  def upTo(init: DataFrame, rounds: Int, tag: String)(
      step: DataFrame => Option[DataFrame]): DataFrame = {
    val s = new Store(None, tag, keepHistory = false)
    @annotation.tailrec
    def go(cur: DataFrame, r: Int): DataFrame = step(cur) match {
      case Some(next) if r < rounds => go(s.truncate(next), r + 1)
      case Some(next) => next
      case None => cur
    }
    if (rounds <= 0) init else go(s.truncate(init), 1)
  }

  /** Rounds of `step` from `init` until `done` holds for the `measure`s
    * of the previous and the newest round. `init` and every round are
    * truncated, and each is measured once, materialized, before the older
    * one is dropped. Reaching `maxRounds` unconverged throws: a round
    * short of the fixpoint is a wrong answer. */
  def fixpoint[M](init: DataFrame, maxRounds: Int, tag: String,
                  dir: Option[String] = None)(step: DataFrame => DataFrame)(
      measure: DataFrame => M)(done: (M, M) => Boolean): DataFrame = {
    val s = new Store(dir, tag, keepHistory = false)
    @annotation.tailrec
    def go(cur: DataFrame, curM: M, r: Int): DataFrame = {
      if (r > maxRounds)
        throw new IllegalStateException(s"$tag: no fixpoint after $maxRounds rounds")
      val (next, drop) = s.materialize(step(cur))
      val nextM = measure(next)
      val converged = done(curM, nextM)
      s.supersede(drop)
      if (converged) next else go(next, nextM, r + 1)
    }
    val first = s.truncate(init)
    go(first, measure(first), 1)
  }

  /** One loop's round files and the drops of its rounds still live. */
  private final class Store(dir: Option[String], tag: String,
                            keepHistory: Boolean) {
    private val inst = ids.getAndIncrement()
    private var written = 0
    private val live = mutable.ArrayBuffer.empty[() => Unit]

    def pin(df: DataFrame): DataFrame = {
      val p = Caches.pin(df)
      live += (() => Caches.unpin(p))
      p
    }

    /** `df` materialized: the frame reading it, and how to drop it. */
    def materialize(df: DataFrame): (DataFrame, () => Unit) = dir match {
      case Some(d) =>
        val p = new Path(s"$d/${tag}_i${inst}_$written")
        written += 1
        df.write.mode("overwrite").parquet(p.toString)
        val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        (df.sparkSession.read.parquet(p.toString), () => fs.delete(p, true))
      case None =>
        val c = Caches.checkpoint(df)
        (c, () => Caches.unpin(c))
    }

    /** Record the newest truncation; without `keepHistory`, drop every
      * live round before it. */
    def supersede(drop: () => Unit): Unit = {
      if (!keepHistory) { live.foreach(_()); live.clear() }
      live += drop
    }

    def truncate(df: DataFrame): DataFrame = {
      val (f, drop) = materialize(df)
      supersede(drop)
      f
    }
  }
}
