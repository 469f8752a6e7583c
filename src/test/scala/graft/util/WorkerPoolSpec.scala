package graft.util

import org.scalatest.funsuite.AnyFunSuite

class WorkerPoolSpec extends AnyFunSuite {
  test("results keep input order; a call from a pool thread runs inline " +
      "instead of waiting on the pool") {
    val n = WorkerPool.Size * 4
    // every outer call occupies a pool thread while it maps again: a
    // nested submit would wait on a pool with no thread free
    val got = WorkerPool.map(1 to n)(i =>
      WorkerPool.map(1 to n)(j => i * j).sum)
    assert(got == (1 to n).map(i => i * n * (n + 1) / 2))
  }

  test("the first failure in input order is rethrown unwrapped") {
    val e = intercept[java.io.FileNotFoundException](
      WorkerPool.map(1 to 20) { i =>
        if (i % 7 == 0) throw new java.io.FileNotFoundException(s"m$i")
        i
      })
    assert(e.getMessage == "m7")
  }
}
