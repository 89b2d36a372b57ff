package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Defensive: every query runs under a job-group with a wall timeout
  * (SPARK_GRAFT_QUERY_TIMEOUT_S, default 300 s) — one pathological query
  * gets cancelled and reported instead of stalling the whole gate.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional query-name subset (dev loop); driver passes exactly two args
    val only = args.drop(2).toSet
    val timeoutS = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_S", "300").toLong
    val spark = Session.local(Session.envCpus(4))
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    var pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val task = pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          finally spark.sparkContext.clearJobGroup()
        }
      })
      try task.get(timeoutS, java.util.concurrent.TimeUnit.SECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelJobGroup(name)
          task.cancel(true)
          // Abandon the single-thread pool: if the cancelled job ignores
          // interruption, a reused pool would queue the NEXT query behind
          // it and its timeout clock would include the queue wait —
          // cascading false timeouts across the rest of the gate.
          pool.shutdownNow()
          pool = java.util.concurrent.Executors.newSingleThreadExecutor()
          System.err.println(s"[verify] $name failed: timeout after ${timeoutS}s (cancelled)")
        case e: Throwable =>
          val cause = Option(e.getCause).getOrElse(e)
          System.err.println(s"[verify] $name failed: ${cause.getMessage}")
      }
      // drop query-local persist() blocks before the next query runs
      spark.sharedState.cacheManager.clearCache()
    }
    pool.shutdownNow()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
