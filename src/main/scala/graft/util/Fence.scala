package graft.util

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of a query's intermediate blocks: the frames it persists
  * ([[cached]]) and the frames whose lineage it truncates with an eager
  * `localCheckpoint` ([[checkpointed]]).
  *
  * [[scope]] opens a scope on the calling thread; scopes nest. A frame is
  * registered in the innermost scope open on the registering thread, or in
  * the root when none is open. When the body returns or throws, the scope
  * frees exactly its own blocks, without blocking. So queries running at
  * once, each in its own scope, never free each other's blocks. The stack
  * is a plain `ThreadLocal`, not an inheritable one, so Spark's pool
  * threads never inherit a scope.
  *
  * Lifetime contract:
  *  - a cached frame stays valid after its scope ends: a freed cache is
  *    recomputed from lineage on the next action;
  *  - a checkpointed frame, and every frame built on it, is DEAD after its
  *    scope ends: it has no lineage to recompute from, so its next action
  *    fails. Never return one out of the scope that made it, and never
  *    memoize one across queries (memoize a driver-side value or a written
  *    path instead).
  *
  * Persisted frames are held strongly until their scope ends. Checkpointed
  * frames are held weakly: a frame that became unreachable was already
  * freed by Spark's `ContextCleaner`. Frames registered with no scope open
  * stay in the root until [[releaseRoot]]; a caller that never calls it
  * keeps that GC-based cleanup for its checkpoints. */
object Fence {

  private final class Blocks {
    val caches = new ConcurrentLinkedQueue[DataFrame]()
    val checkpoints = new ConcurrentLinkedQueue[WeakReference[DataFrame]]()

    def release(): Unit = {
      var d = caches.poll()
      while (d != null) { d.unpersist(blocking = false); d = caches.poll() }
      var ref = checkpoints.poll()
      while (ref != null) {
        val c = ref.get()
        if (c != null)
          c.queryExecution.analyzed.collectLeaves().foreach {
            case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
            case _ => ()
          }
        ref = checkpoints.poll()
      }
    }
  }

  private val root = new Blocks
  private val open = ThreadLocal.withInitial[List[Blocks]](() => Nil)

  private def current: Blocks = open.get.headOption.getOrElse(root)

  /** Run `body` in a new scope, then free the blocks registered in it. */
  def scope[T](body: => T): T = {
    val blocks = new Blocks
    open.set(blocks :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      blocks.release()
    }
  }

  /** `df` persisted, freed when the current scope ends. */
  def cached(df: DataFrame): DataFrame = {
    val p = df.persist()
    current.caches.add(p)
    p
  }

  /** `df` eagerly checkpointed, freed (and dead) when the current scope
    * ends. */
  def checkpointed(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    current.checkpoints.add(new WeakReference(cp))
    cp
  }

  /** Free the blocks registered with no scope open. */
  def releaseRoot(): Unit = root.release()
}
