package graft

import graft.tools.Probe
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main: every registered query through [[Probe.reps]].
  *
  *   SPARK_GRAFT_SF_DIR=<sfDir> SPARK_GRAFT_CPUS=<n> sbt 'runMain graft.Bench'
  *
  * After [[Probe.warmUp]], each query runs one untimed and three timed
  * noop-sink materializations. bench_out.json (cwd) gets one row per query:
  * median, first and third quartile and min wall seconds over the timed
  * reps, plus the fastest rep's jobs, stages, shuffle read/write and spill
  * bytes. A query that throws is listed under "failed" and the sweep goes
  * on. The run reads no earlier output; comparing two runs is left to
  * whoever holds both files.
  */
object Bench {
  private val reps = 3

  /** One query's row: wall-time quartiles over its timed reps and the
    * fastest rep's counts.
    */
  final case class Row(name: String, r: Probe.Reps) {
    def q1: Double = Probe.quantile(r.wallS, 0.25)
    def median: Double = Probe.median(r.wallS)
    def q3: Double = Probe.quantile(r.wallS, 0.75)
    def min: Double = r.wallS.min
  }

  final case class Sweep(rows: Seq[Row], failed: Seq[String])

  def sweep(spark: SparkSession, qs: Seq[Q], sfDir: String, n: Int): Sweep = {
    val (failed, rows) = qs.partitionMap { q =>
      try Right(Row(q.name, Probe.reps(spark, q, sfDir, n)))
      catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
          spark.sharedState.cacheManager.clearCache()
          Left(q.name)
      }
    }
    Sweep(rows, failed)
  }

  def json(s: Sweep, sfDir: String, n: Int): String = {
    def ms(v: Double): Double = math.rint(v * 1000) / 1000
    val rows = s.rows.map { w =>
      s""""${w.name}":{"median":${ms(w.median)},"q1":${ms(w.q1)},"q3":${ms(w.q3)},""" +
        s""""min":${ms(w.min)},"jobs":${w.r.jobs},"stages":${w.r.stages},""" +
        s""""shuffle_read_bytes":${w.r.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${w.r.shuffleWriteBytes},"spill_bytes":${w.r.spillBytes}}"""
    }
    s"""{"sf":"$sfDir","reps":$n,"queries":{${rows.mkString(",")}},""" +
      s""""failed":[${s.failed.map("\"" + _ + "\"").mkString(",")}]}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.envCpus(4))
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    Probe.warmUp(spark, sfDir)
    val s = sweep(spark, SparkEntry.all, sfDir, reps)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), json(s, sfDir, reps))
    println(f"[bench] ${s.rows.size} queries, sum of medians ${s.rows.map(_.median).sum}%.3f s, " +
      f"sweep ${(System.nanoTime() - t0) / 1e9}%.0f s, failed [${s.failed.mkString(",")}] -> bench_out.json")
    spark.stop()
  }
}
