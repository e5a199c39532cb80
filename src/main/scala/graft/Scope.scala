package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of "when is a cached intermediate released". [[run]]
  * opens a scope on the calling thread; every frame held inside it is
  * released, newest first and without blocking, when the body returns
  * or throws. Scopes nest, and each releases only its own frames. The
  * scope sits at the caller, not around one frame: operators return
  * lazy plans that read their own caches, so only the caller knows when
  * the action over them has run. A hold with no open scope on its
  * thread goes to one process root scope, which [[releaseRoot]]
  * closes. A frame whose plan is already cached stays with whoever
  * cached it, so a caller's own cache survives the operators it calls.
  */
object Scope {
  /** `rdd`: a checkpoint's blocks, which the CacheManager cannot see. */
  private final case class Held(df: DataFrame, rdd: Option[RDD[_]])
  private type Frames = ArrayBuffer[Held]
  private val open = ThreadLocal.withInitial[List[Frames]](() => Nil)
  private val root: Frames = ArrayBuffer.empty
  private val released, eager = new AtomicLong
  private def current: Frames = open.get.headOption.getOrElse(root)

  def run[T](body: => T): T = {
    val mine: Frames = ArrayBuffer.empty
    open.set(mine :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      close(mine)
    }
  }

  /** Lazy persist: the same frame and plan, cached on first use. */
  def hold(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) add(Held(df.persist(), None))
    df
  }

  /** [[hold]] plus one count: plans that read the frame from several
    * branches at once (broadcast exchanges run on their own threads)
    * would race to compute it cold (measured r13: rel_label_prop 23 s
    * wall / 157 s summed job time before warms and checkpoints). */
  def warm(df: DataFrame): DataFrame = {
    hold(df).count()
    eager.incrementAndGet()
    df
  }

  /** Eager local checkpoint: computed once, lineage cut to its blocks. */
  def checkpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(true)
    eager.incrementAndGet()
    add(Held(c, c.queryExecution.analyzed.collectFirst {
      case lr: LogicalRDD => lr.rdd
    }))
    c
  }

  /** Release a superseded frame the current scope holds, now. Never
    * release a frame that a plan still to be run reads: a released
    * checkpoint cannot be recomputed. */
  def release(df: DataFrame): Unit = {
    val f = current
    f.synchronized(f.indexWhere(_.df eq df) match {
      case -1 => None
      case i => Some(f.remove(i))
    }).foreach(free)
  }

  /** Close the root scope: the holds made outside every [[run]]. */
  def releaseRoot(): Unit = close(root)

  /** Frames released and eager holds ([[warm]], [[checkpoint]]) so far
    * in this process, across threads. */
  private[graft] def tally: (Long, Long) = (released.get, eager.get)

  private def add(h: Held): Unit = {
    val f = current
    f.synchronized(f += h)
  }

  private def close(f: Frames): Unit =
    f.synchronized { try f.reverse.toList finally f.clear() }.foreach(free)

  // a failed release must not stop the others or mask the body's error
  private def free(h: Held): Unit = {
    try h.rdd match {
      case Some(r) => r.unpersist(blocking = false)
      case None => h.df.unpersist(blocking = false)
    } catch { case NonFatal(_) => () }
    released.incrementAndGet()
  }
}
