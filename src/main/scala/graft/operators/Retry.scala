package graft.operators

import scala.util.control.NonFatal

/** Jittered exponential-backoff retry (SURVEY §2.8 T6). Reference policy
  * (`api/AsyncHttpClientWithRetry.java:41-129`): `attempts` tries, delay
  * `base * 2^n` with +/-50% jitter, capped at `maxDelayMs`. Jitter is
  * deterministic from the attempt number (no wall-clock/random dependency)
  * so retries are reproducible in tests. Only `NonFatal` failures are
  * retried: an interrupt or a `VirtualMachineError` propagates at once.
  */
object Retry {

  def withRetry[T](
      attempts: Int = 3,
      baseDelayMs: Long = 1000,
      maxDelayMs: Long = 10000,
      sleep: Long => Unit = Thread.sleep,
      shouldRetry: Throwable => Boolean = _ => true)(op: () => T): T = {
    require(attempts >= 1)
    var n = 0
    var last: Throwable = null
    while (n < attempts) {
      try return op()
      catch {
        case NonFatal(e) if shouldRetry(e) =>
          last = e
          n += 1
          if (n < attempts) {
            val exp = baseDelayMs * (1L << (n - 1))
            // deterministic +/-50% jitter from the attempt number
            val jitterFrac = ((n * 2654435761L) % 1000) / 1000.0 - 0.5
            val delay = math.min((exp * (1.0 + jitterFrac)).toLong, maxDelayMs)
            sleep(math.max(delay, 0))
          }
      }
    }
    throw last
  }

  /** Transient-vs-terminal split for the Hadoop-FS surface: a missing key is
    * a state (the caller's sentinel/empty-listing semantics handle it) and
    * denied access never heals on retry; everything else — socket resets,
    * store 5xx/throttles surfaced as generic IOExceptions — is worth the
    * reference's 3-attempt backoff (`AsyncHttpClientWithRetry.java:41-129`).
    */
  def transientStorageFault(e: Throwable): Boolean = e match {
    case _: java.io.FileNotFoundException => false
    case _: org.apache.hadoop.security.AccessControlException => false
    case _ => true
  }

  /** Storage-IO wrapper for the listing/copy/read hot paths (T6): metadata
    * ops are small, so short delays keep a faulted sync fast while still
    * riding out one-off faults.
    */
  def storageIO[T](op: => T): T =
    withRetry(attempts = 3, baseDelayMs = 100, maxDelayMs = 2000,
      shouldRetry = transientStorageFault)(() => op)
}
