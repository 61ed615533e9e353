package graft.exec

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException}

/**
 * The one way a value is shared across callers: `getOrCompute(k)(v)`
 * returns the value stored for `k`, computing it with `v` exactly once.
 *
 * Rules:
 *  - compute on the caller: the first caller for a key stores a future
 *    and runs `v` on its own thread; later callers block on that future,
 *    never on a map lock, so a caller that is itself a [[Par]] thread
 *    never waits on a compute queued behind it;
 *  - failures are not cached: a compute that throws is removed from the
 *    map, its exception reaches every caller waiting on it, and the next
 *    call computes again;
 *  - keys are compared by `equals`, so a key holding a session object
 *    separates sessions by identity. A compute must not ask for its own
 *    key (it would wait on itself).
 */
final class Memo[K, V] {
  private val entries = new ConcurrentHashMap[K, CompletableFuture[V]]()

  def getOrCompute(k: K)(v: => V): V = {
    val mine = new CompletableFuture[V]()
    entries.putIfAbsent(k, mine) match {
      case null =>
        try { val r = v; mine.complete(r); r }
        catch { case e: Throwable =>
          entries.remove(k, mine)
          mine.completeExceptionally(e)
          throw e
        }
      case theirs =>
        try theirs.get()
        catch { case e: ExecutionException => throw e.getCause }
    }
  }
}
