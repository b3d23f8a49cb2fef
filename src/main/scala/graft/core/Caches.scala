package graft.core

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** The one owner of the engine's pinned intermediates — the role Spark
  * SQL's CacheManager plays for user-cached plans, applied to what the
  * ops themselves pin. Every persist and every local checkpoint in the
  * engine goes through [[pin]] or [[checkpoint]], and so is registered
  * here until one of three calls drops it:
  *
  *  - [[release]] drops every registered pin — the embedding contract: a
  *    long-lived service calls it after each query or batch instead of
  *    accumulating storage blocks until session end;
  *  - [[scoped]] drops, when its body exits, what the calling thread
  *    pinned or checkpointed inside it — for intermediates an op fully
  *    consumes (writes, collects) before it returns;
  *  - [[unpin]] drops one pin now — an iteration's superseded round once
  *    the next round is materialized.
  *
  * Every pin is `MEMORY_AND_DISK`; every checkpoint is an eager
  * `localCheckpoint`. */
object Caches {

  /** A registered pin: a persisted frame, or an eager local checkpoint
    * together with the RDD holding its blocks. */
  private final class Pin(val frame: DataFrame, checkpointRdd: Option[RDD[_]]) {
    def drop(): Unit = checkpointRdd match {
      case Some(rdd) => rdd.unpersist(blocking = false)
      case None => frame.unpersist(blocking = false)
    }
  }

  private val registry = mutable.ArrayBuffer.empty[Pin]

  /** The innermost open [[scoped]] block of this thread, if any. */
  private val scope = new ThreadLocal[mutable.ArrayBuffer[Pin]]

  private def register(p: Pin): Unit = {
    registry.synchronized { registry += p }
    Option(scope.get).foreach(_ += p)
  }

  /** Drop the pins of `ps` that are still registered. */
  private def drop(ps: Iterable[Pin]): Unit = {
    val live = registry.synchronized {
      val l = ps.filter(p => registry.exists(_ eq p)).toList
      registry --= l
      l
    }
    live.foreach(_.drop())
  }

  /** Persist `df` (`MEMORY_AND_DISK`) and register it. */
  def pin(df: DataFrame): DataFrame = {
    val p = df.persist(MEMORY_AND_DISK)
    register(new Pin(p, None))
    p
  }

  /** Eager `localCheckpoint` of `df`, registered: the returned frame reads
    * the materialized blocks and its lineage is cut there. */
  def checkpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(eager = true)
    register(new Pin(c, c.queryExecution.logical.collectFirst {
      case l: LogicalRDD => l.rdd
    }))
    c
  }

  /** Drop the pin or checkpoint that [[pin]] or [[checkpoint]] returned
    * as `df`, now. */
  def unpin(df: DataFrame): Unit =
    drop(registry.synchronized(registry.filter(_.frame eq df).toList))

  /** Drop every registered pin. A frame that read a released pin stays
    * valid and recomputes from its lineage on its next action; a frame
    * whose lineage a released checkpoint cut cannot run again. */
  def release(): Unit = drop(registry.synchronized(registry.toList))

  /** Run `body`, then drop what this thread pinned or checkpointed inside
    * it. Its result must not read those pins lazily: return driver values
    * or frames that do not depend on them. */
  def scoped[T](body: => T): T = {
    val outer = scope.get
    val mine = mutable.ArrayBuffer.empty[Pin]
    scope.set(mine)
    try body
    finally {
      scope.set(outer)
      drop(mine)
    }
  }

  /** The rows of `df` when it has at most `n`, else None: one job either
    * way, and at most n + 1 rows reach the driver. Every driver-local fast
    * path asks here whether its input fits its budget. */
  def collectAtMost(df: DataFrame, n: Long): Option[Array[Row]] =
    if (forceOverBudget.get) None
    else {
      val rows = df.limit(math.min(n, Int.MaxValue - 1L).toInt + 1).collect()
      if (rows.length <= n) Some(rows) else None
    }

  private val forceOverBudget = ThreadLocal.withInitial[Boolean](() => false)

  /** Run `body` with every [[collectAtMost]] on this thread answering
    * None, so each op takes its over-budget branch (its distributed loop,
    * or a refusal): a spec compares an op's two paths on small inputs. */
  private[graft] def overBudget[T](body: => T): T = {
    val outer = forceOverBudget.get
    forceOverBudget.set(true)
    try body
    finally forceOverBudget.set(outer)
  }
}
