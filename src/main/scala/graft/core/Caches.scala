package graft.core

import org.apache.spark.sql.DataFrame

/**
 * Scoped registry of what a query pins in the block manager. Two kinds of
 * entry:
 *
 *  - a PERSIST, an intermediate frame an operator persisted to avoid a
 *    double scan (JsonFlattener's inference input, Dedup's gram frames),
 *    registered by [[track]]. Spark's `CacheManager` holds a strong
 *    reference to every `Dataset.persist`, so without an explicit release
 *    each call pins its MEMORY_AND_DISK blocks for the session lifetime —
 *    fine in a run-once batch job, an accumulating leak in a long-lived
 *    session. A persist is a PURE cache: releasing it early only
 *    re-derives the frame from lineage, never changes results;
 *  - a LEAF, a lineage-truncated checkpoint (`bridge.checkpointLeaf`:
 *    graph results and loop frames, ordinals, Dedup's buckets, the
 *    fetch-once intermediate), registered by the bridge itself. A leaf
 *    cannot be recomputed: a frame that reads one after its scope's exit
 *    fails with Spark's "Checkpoint block ... not found", never with wrong
 *    rows. A leaf is registered only while a query scope ([[scoped]]) is
 *    open on the calling thread; with none open nothing owns it and
 *    Spark's ContextCleaner frees it once its plan is garbage-collected.
 *    The global scope never holds a leaf, so a bare [[release]] cannot
 *    break a result its caller still holds.
 *
 * What release DOES affect for persists is the single-scan guarantee —
 * which is why tracking is scoped per-query, not process-global: with one
 * global queue, two concurrent queries in a shared session would release
 * each other's pinned frames mid-flight, silently degrading a single scan
 * to a double scan (and, for leaves, failing the other query).
 *
 * Usage: wrap each query (plan construction AND its consuming action) in
 * [[scoped]] — persists and leaves built inside are released exactly when
 * that body finishes, normally or by a throw, regardless of what other
 * threads track meanwhile. Bench and Verify do this per query. `track`
 * calls outside any scope fall back to a process-global scope drained by
 * bare [[release]] — the pre-scoping behavior, still right for strictly
 * sequential use.
 */
object Caches {

  /** One query's tracked persists and leaves; [[release]] unpersists the
    * persists, closing the scope both.
    *
    * A scope is CLOSED once its `scoped` body exits. Closing matters for
    * pooled threads: `active` is inheritable, copied at thread CREATION,
    * so a worker thread a query's body spawned into a long-lived pool
    * still references that query's scope when a LATER query reuses the
    * pool. Without the closed flag, frames tracked there after the
    * owner's exit landed in a scope nothing would ever release again — a
    * silent session-lifetime pin. With it, `add` on a closed scope falls
    * through to the scope that was ACTIVE when the closed one was opened
    * (its enclosing scope — usually the global one), so a frame tracked
    * by an outliving pooled thread is freed at the enclosing scope's
    * exit, or by any bare [[Caches.release]] once it reaches the global
    * scope. Fallbacks chain: a closed enclosing scope hands off again.
    * A scope that does not own leaves (the global one, or a library
    * round's [[persistScoped]]) hands a leaf to its enclosing scope too;
    * past the global scope it is dropped. */
  final class Scope private[Caches] (fallback: Scope, ownsLeaves: Boolean) {
    private val persists = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
    private val leaves = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
    @volatile private var closed = false
    private[Caches] def add(unpersist: () => Unit, leaf: Boolean): Unit =
      if (closed || (leaf && !ownsLeaves)) {
        if (fallback != null) fallback.add(unpersist, leaf)
      } else {
        val q = if (leaf) leaves else persists
        q.add(unpersist)
        // `closed` may flip between the check and the enqueue; close()
        // drains AFTER setting the flag, but an entry enqueued after that
        // drain would be stranded — hand the lost race to the fallback
        if (closed && q.remove(unpersist)) fallback.add(unpersist, leaf)
      }
    private def drain(q: java.util.Queue[() => Unit]): Unit = {
      var u = q.poll()
      while (u != null) { u(); u = q.poll() }
    }
    private[Caches] def close(): Unit = { closed = true; drain(persists); drain(leaves) }
    def release(): Unit = drain(persists)
  }

  // the global scope is never closed, so its `add` reaches a fallback
  // only for a leaf, which `null` drops
  private val global = new Scope(null, ownsLeaves = false)
  // Inheritable so a scope opened on a driver thread covers any worker
  // threads the body itself spawns; a pooled thread that OUTLIVES the
  // scope is handled by the closed-scope fallback above.
  private val active = new InheritableThreadLocal[Scope] {
    override def initialValue(): Scope = global
  }

  /** Register a persisted frame with the calling thread's active scope
    * (the global scope if none is open). Returns the frame for call-site
    * chaining. */
  def track(df: DataFrame): DataFrame = {
    active.get.add(() => df.unpersist(false), leaf = false); df
  }

  /** Register a checkpoint leaf's RDD with the innermost query scope open
    * on the calling thread; with none open, do nothing. Called by
    * `bridge.checkpointLeaf` for every leaf it builds (the bridge lives in
    * Spark's package tree, beyond a `private[graft]` qualifier's reach).
    * A leaf an operator already released (a superseded loop round) is
    * skipped at the scope's exit. */
  def trackLeaf(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    active.get.add(() => if (rdd.getStorageLevel.isValid) rdd.unpersist(false), leaf = true)

  /** Run `body` with a fresh query scope as this thread's active one; when
    * `body` finishes, normally or by a throw, release the persists and
    * leaves it built. Put the consuming action INSIDE the body —
    * releasing before the action would force the very double scan a
    * persist exists to avoid, and fail a read of any leaf. */
  def scoped[T](body: => T): T = open(ownsLeaves = true)(body)

  /** [[scoped]] for a library-internal step (a loop round, a probe) that
    * releases only the persists it tracked: leaves built inside belong to
    * the enclosing query scope, or to none when the caller opened none, so
    * a result the step returns stays readable after it. */
  private[graft] def persistScoped[T](body: => T): T = open(ownsLeaves = false)(body)

  private def open[T](ownsLeaves: Boolean)(body: => T): T = {
    val prev = active.get
    // fallback = the ENCLOSING scope (not always global): a pooled thread
    // that outlives a nested scope hands its late tracks to the scope
    // that contained it, which still drains them at ITS exit; the chain
    // bottoms out at the never-closed global scope
    val s = new Scope(prev, ownsLeaves)
    active.set(s)
    // close (not just release): pooled threads created inside `body`
    // inherit `s` forever — closing redirects their later tracks to the
    // ENCLOSING scope (chaining on until the never-closed global scope)
    // instead of pinning frames in a dead scope
    try body finally { active.set(prev); s.close() }
  }

  /** Release the persists of the calling thread's active scope (the
    * global scope if none is open). Safe at any time (cache-only —
    * lineage recomputes); leaves wait for their scope's exit. */
  def release(): Unit = active.get.release()
}
