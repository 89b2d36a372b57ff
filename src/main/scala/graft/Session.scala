package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder behind every graft main and the
  * test suite: `local[cpus]` with one shuffle partition per core, UTC
  * session time and `nanosAsLong` parquet reads (which
  * [[Tables.normalizeTs]] relies on), AQE on (Spark 4's default, pinned),
  * no UI, and `ERROR` logging with [[graft.tools.LogHygiene]] applied.
  */
object Session {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.tools.LogHygiene.suppressTinyFrameWindowWarnings()
    spark
  }

  /** The core count from `SPARK_GRAFT_CPUS`, else the caller's default. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)
}
