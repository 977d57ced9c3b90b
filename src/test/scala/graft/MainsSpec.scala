package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** What the mains rely on: the core-count rule every session takes its
  * cores from, and the driver contract — `SparkEntry.entry`, its flagship
  * call, and the query registry `queries` and `oracleSql` derive from. */
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

  // no Spark job: building the registry only makes closures and strings
  test("driver registry: 83 uniquely named entries; queries and oracleSql carry its keys") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.diff(names.distinct).isEmpty,
      s"duplicate names: ${names.diff(names.distinct).mkString(", ")}")
    assert(names.size == 83)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("driver registry: every oracle SQL string matches its sha256 snapshot") {
    // oracle_sql.sha256: one `name<TAB>sha256` line per query, the UTF-8
    // SHA-256 of its oracle SQL; an oracle change updates its line on purpose
    val src = scala.io.Source.fromResource("oracle_sql.sha256")
    val snapshot = try src.getLines().map { line =>
      val Array(name, sha) = line.split('\t'); name -> sha
    }.toMap finally src.close()
    assert(SparkEntry.oracleSql.keySet == snapshot.keySet)
    val changed = SparkEntry.oracleSql.toSeq.sortBy(_._1).collect {
      case (name, sql) if sha256(sql) != snapshot(name) => name
    }
    assert(changed.isEmpty, s"oracle SQL differs from the snapshot: ${changed.mkString(", ")}")
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}
