package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

class RetrySpec extends AnyFunSuite {

  class Transient extends java.sql.SQLTransientException("Deadlock found")

  test("retries transient failures with exponential backoff then succeeds") {
    var calls = 0
    val sleeps = scala.collection.mutable.ListBuffer[Long]()
    val out = Retry.withBackoff(5, 500, Retry.isSqlTransient, sleeps += _) {
      calls += 1
      if (calls < 4) throw new Transient else "ok"
    }
    assert(out == "ok" && calls == 4)
    assert(sleeps.toList == List(500L, 1000L, 2000L)) // 0.5 * 2^n, like the reference
  }

  test("gives up after maxAttempts") {
    var calls = 0
    intercept[Transient] {
      Retry.withBackoff(3, 1, Retry.isSqlTransient, _ => ()) {
        calls += 1; throw new Transient
      }
    }
    assert(calls == 3)
  }

  test("non-transient errors propagate immediately (Spark task retry takes over)") {
    var calls = 0
    intercept[IllegalArgumentException] {
      Retry.withBackoff(5, 1, Retry.isSqlTransient, _ => ()) {
        calls += 1; throw new IllegalArgumentException("schema mismatch")
      }
    }
    assert(calls == 1)
  }
}
