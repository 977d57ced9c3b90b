package graft

import org.apache.spark.sql.SparkSession

/** The one place the mains and the test suite start Spark: a local session
  * with UTC session time and no UI.
  */
object LocalSpark {

  private val CpusVar = "SPARK_GRAFT_CPUS"

  /** Task threads for a local session: `SPARK_GRAFT_CPUS` if set, else the
    * cores the JVM can use. */
  def cores(): Int =
    coresFrom(sys.env.get(CpusVar), Runtime.getRuntime.availableProcessors())

  /** The core-count rule, over the variable's value and the JVM's cores. A
    * value that is not a positive integer fails here, naming the variable,
    * instead of reaching Spark as a malformed master URL. */
  private[graft] def coresFrom(value: Option[String], available: Int): Int =
    value.fold(available) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$CpusVar must be a positive integer, got '$v'"))
    }

  /** A `local[cores]` session with `partitions` shuffle partitions. */
  def session(cores: Int, partitions: Int, logLevel: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
