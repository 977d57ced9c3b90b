package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter for fast
    // iteration on a few queries (skips the fixture writer — fixture-backed
    // queries still need the full run)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cores = LocalSpark.cores()
    val spark = LocalSpark.session(cores, cores, "WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    if (only.isDefined) { // fast path: no fixtures, oracle json only.
      // The filtered subset goes to a DISTINCT file: overwriting
      // oracle_sql.json in a shared outDir would silently drop every other
      // query's oracle SQL from a later full driver compare.
      writeOracleJson(outDir, "oracle_sql.partial.json",
        SparkEntry.oracleSql.filter { case (k, _) => only.get.contains(k) })
      spark.stop()
      return
    }
    // expected-result fixtures for the no-SQL-twin queries (sequential
    // oracles + reference-derived goldens → parquet the oracle SQL reads).
    // The fixture dir is deleted FIRST: a partial/failed writeAll must leave
    // missing files (loud DuckDB errors), never stale expectations from a
    // previous build that the compare would silently consume.
    locally {
      val d = java.nio.file.Paths.get(graft.oracle.Fixtures.dir)
      if (Files.isDirectory(d)) {
        val walk = Files.walk(d)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    }
    try graft.oracle.Fixtures.writeAll(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] fixtures failed: ${e.getMessage}")
    }
    writeOracleJson(outDir, "oracle_sql.json", SparkEntry.oracleSql)
    spark.stop()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeOracleJson(outDir: String, fileName: String,
                              entries: Map[String, String]): Unit =
    Files.writeString(Paths.get(s"$outDir/$fileName"),
      entries.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
        .mkString("{", ",", "}"))
}
