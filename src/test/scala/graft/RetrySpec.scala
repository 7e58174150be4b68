package graft

import graft.operators.Retry
import org.scalatest.funsuite.AnyFunSuite

class RetrySpec extends AnyFunSuite {

  test("succeeds after transient failures, with capped jittered delays") {
    var calls = 0
    val delays = scala.collection.mutable.Buffer[Long]()
    val out = Retry.withRetry(attempts = 3, baseDelayMs = 1000,
      maxDelayMs = 10000, sleep = delays.append(_)) { () =>
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(out == "ok" && calls == 3 && delays.length == 2)
    assert(delays.forall(d => d >= 0 && d <= 10000))
  }

  test("exhausted attempts rethrow the last failure") {
    var calls = 0
    val e = intercept[RuntimeException] {
      Retry.withRetry(attempts = 3, sleep = _ => ()) { () =>
        calls += 1
        throw new RuntimeException(s"fail-$calls")
      }
    }
    assert(calls == 3 && e.getMessage == "fail-3")
  }

  test("an interrupt propagates on the first attempt, without a backoff sleep") {
    var calls = 0
    val delays = scala.collection.mutable.Buffer[Long]()
    intercept[InterruptedException] {
      Retry.withRetry(attempts = 3, sleep = delays.append(_)) { () =>
        calls += 1
        throw new InterruptedException("interrupted")
      }
    }
    assert(calls == 1 && delays.isEmpty)
  }
}
