package graft.sources

import java.util.concurrent.{CompletableFuture, ExecutionException, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import scala.util.{Failure, Success, Try}

/** The driver's one storage I/O pool: at most [[FsListing.MaxInFlight]]
  * daemon threads, and idle ones time out. Discovery's level listings,
  * [[FsListing.listDirs]] and a mirror batch's copies all fan out here.
  *
  * Deadlock rule: never call [[all]], or anything that calls it (`listDirs`,
  * `mirrorTable`), from a pool task. A pool task only does storage I/O;
  * only caller threads (a discovery tick, a sync's table threads, a query's
  * thread) join pool futures. So every queued task runs to completion
  * without needing another one, and callers may share the pool freely,
  * e.g. `ContinuousSync`'s discovery and process ticks when they overlap.
  */
object IoPool {

  private lazy val pool: ThreadPoolExecutor = {
    val p = new ThreadPoolExecutor(FsListing.MaxInFlight, FsListing.MaxInFlight,
      30L, TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, "storage-io")
        t.setDaemon(true)
        t
      })
    p.allowCoreThreadTimeOut(true)
    p
  }

  /** Run `task` on every item concurrently and wait for all of them; the
    * results come back in item order. A failure is rethrown (the first in
    * item order, unwrapped, so it is classified as a sequential call's
    * would be) only after the other tasks have finished.
    */
  def all[A, B](items: Seq[A])(task: A => B): Seq[B] = {
    val futures = items.map(a => CompletableFuture.supplyAsync(() => task(a), pool))
    futures.map(f => Try(f.get())).map {
      case Success(b) => b
      case Failure(e: ExecutionException) => throw e.getCause
      case Failure(e) => throw e
    }
  }
}
