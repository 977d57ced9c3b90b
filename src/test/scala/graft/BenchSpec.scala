package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("pinnedTo accepts only an affinity of exactly cpus 0..n-1") {
    // taskset -c 0-7 on a 4-cpu host leaves 0-3 and still exits 0
    assert(!Bench.pinnedTo("0-3", 8))
    assert(Bench.pinnedTo("0-7", 8))
    assert(Bench.pinnedTo("0-3\n", 4))
    assert(Bench.pinnedTo("0", 1))
    assert(!Bench.pinnedTo("0-1", 1))
    assert(!Bench.pinnedTo("1-4", 4))
    assert(!Bench.pinnedTo("", 2))
  }
}
