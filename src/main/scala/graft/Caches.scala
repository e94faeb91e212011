package graft

import org.apache.spark.sql.Dataset

/** Registry of the cached intermediates graft operators create (MinHash /
  * SimHash / SSJoin shingle tables). Each persist() inside
  * an operator is tracked here weakly; `release()` unpersists exactly those
  * plans — unlike `spark.sqlContext.clearCache()`, it never touches caches
  * the CALLER created. Long-lived sessions embedding this library should
  * call `graft.Caches.release()` once the returned query results are
  * materialized; Bench/Verify call release() between queries (plus the
  * blunter clearCache() for any remaining caller-level caches), so registry
  * entries never accumulate over a full sweep.
  *
  * References are strong on purpose: the CacheManager holds cached blocks
  * by plan, independent of the Dataset object's lifetime, so a weak
  * registry would let entries vanish while their blocks stay resident —
  * exactly the leak this exists to fix. */
object Caches {

  private val live = scala.collection.mutable.LinkedHashSet.empty[Dataset[_]]
  // scope stacks are THREAD-LOCAL: a releaseAfter scope only captures
  // persists made by its own thread, so concurrent driver threads (one
  // inside a scope, one persisting unrelated graft caches) can never
  // unpersist each other's work — the global `live` set stays shared
  private val scopes = new ThreadLocal[
      scala.collection.mutable.ArrayBuffer[scala.collection.mutable.LinkedHashSet[Dataset[_]]]] {
    override def initialValue() =
      scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.LinkedHashSet[Dataset[_]]]
  }

  /** Persist `d` and track it for release(). */
  private[graft] def persistTracked[T](d: Dataset[T]): Dataset[T] = {
    d.persist()
    synchronized { live.add(d) }
    scopes.get.foreach(_.add(d))
    d
  }

  /** Unpersist every live graft-created cache (non-blocking) and empty the
    * [[IndexMeta]] memo of decoded index metadata, freeing the blocks of
    * the BM25 term indexes it holds. */
  def release(): Unit = synchronized {
    live.foreach(d => d.unpersist(false))
    live.clear()
    IndexMeta.clear()
  }

  /** Registry size — the leak observable: a loop-shaped operator (an
    * ingest batch, an upsert) must leave this unchanged across a call, or
    * a long-running stream grows one cached plan per batch until OOM (the
    * round-15 flag-kernel persist did exactly that; specs pin the delta
    * at 0 so it cannot come back). */
  private[graft] def liveCount: Int = synchronized { live.size }

  /** Run `body`, then unpersist ONLY the graft caches persisted during it.
    * The catalog-build form of [[release]]: a caller that interleaves a
    * catalog build with other cached graft work keeps those caches — only
    * the build's own intermediates (unreadable once the stored table
    * exists) are dropped. Scopes nest; an inner scope's caches also belong
    * to the outer one until the inner release fires. The scope stack is
    * per-thread: persists from OTHER driver threads are never captured (and
    * never released) by this thread's scope — body must do its persisting
    * on the calling thread. */
  def releaseAfter[A](body: => A): A = {
    val scope = scala.collection.mutable.LinkedHashSet.empty[Dataset[_]]
    scopes.get += scope
    try body
    finally {
      // remove by IDENTITY, not structural equality: nested scopes whose
      // contents coincide (e.g. both empty) are == under LinkedHashSet
      // equality, and `-=` would pop the wrong one — leaving a stale scope
      // capturing later persists while the outer scope leaks its caches
      val stack = scopes.get
      val i = stack.lastIndexWhere(_ eq scope)
      if (i >= 0) stack.remove(i)
      synchronized { scope.foreach { d => d.unpersist(false); live.remove(d) } }
    }
  }

  /** Number of currently tracked cached plans (for tests/diagnostics). */
  def trackedCount: Int = synchronized { live.size }
}
