package graft

import org.scalatest.funsuite.AnyFunSuite

/** What the mains rely on: the core-count rule every session takes its
  * cores from, and `SparkEntry.entry`, the flagship call of the driver
  * contract. */
class MainsSpec extends AnyFunSuite {

  test("core count: SPARK_GRAFT_CPUS when set, else the JVM's cores") {
    assert(LocalSpark.coresFrom(Some("6"), 4) == 6)
    assert(LocalSpark.coresFrom(Some("1"), 32) == 1)
    assert(LocalSpark.coresFrom(None, 4) == 4)
    assert(LocalSpark.coresFrom(None, 32) == 32)
  }

  test("core count: a value that is not a positive integer fails, naming the variable") {
    for (v <- Seq("0", "-2", "abc")) {
      val e = intercept[IllegalArgumentException](LocalSpark.coresFrom(Some(v), 4))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }

  test("SparkEntry.entry returns rows of exactly (doc_id, spans)") {
    val df = SparkEntry.entry(SparkTestSession.spark)
    assert(df.columns.toSeq == Seq("doc_id", "spans"))
    assert(df.count() > 0, "entry must return rows")
  }
}
