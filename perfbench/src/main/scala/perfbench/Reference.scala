package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Reference output fingerprints, `perfbench/reference.tsv`: one line
  * per `<workload>/<operation>` with its row count and hash.
  *
  * Regenerate them (only when the inputs or the operation list change)
  * from the root of a checkout, after one `python3 perfbench/run.py` run
  * has built the harness:
  *
  *   java @.bench_build/launch.txt -Xmx2g perfbench.Reference <outDir>
  *
  * For each workload this writes the seed-0 inputs to
  * `<outDir>/<workload>/inputs`, each curation query's output and
  * `oracle_sql.json` to `<outDir>/<workload>/out`, and prints the TSV.
  * Check the curation outputs against DuckDB before committing:
  *
  *   python3 tools/validate.py <outDir>/<workload>/inputs <outDir>/<workload>/out
  *
  * validate.py opens every fixture table as a single parquet file: first
  * replace each `<table>.parquet` directory written here by its one part
  * file, and copy the tables a workload does not write from the sf0.01
  * fixture into its inputs dir. The IR pipelines have no oracle: their
  * reference is the as-written graph's output, which the optimized graph
  * must reproduce.
  */
object Reference {
  def load(file: Path): Map[String, Fingerprint] =
    if (!Files.exists(file)) Map.empty
    else Files.readAllLines(file).asScala.toSeq.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).collect { case Array(k, n, h) => k -> Fingerprint(n.toLong, h) }.toMap

  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0)).toAbsolutePath
    val root = Paths.get("").toAbsolutePath
    val work = out.resolve("work")
    val lines = Workload.names.flatMap { name =>
      val dir = out.resolve(s"$name/inputs").toString
      val spark = Main.session(work)
      Inputs.write(spark, name, root.resolve("perfbench/data").toString, 0L, dir)
      val r = new Runner(spark, dir, None)
      Workload(name).pass(r, 0L)
      r.failures.foreach(f => System.err.println(s"failed: $name $f"))
      if (name != "plumber") {
        val byName = graft.SparkEntry.all.map(q => q.name -> q).toMap
        Curation.Queries.foreach { q =>
          byName(q).fn(spark, dir).coalesce(1).write.mode("overwrite")
            .parquet(out.resolve(s"$name/out/$q").toString)
          spark.sharedState.cacheManager.clearCache()
        }
        val oracles = Curation.Queries.flatMap(q => byName(q).oracle.map(q -> _))
        Files.writeString(out.resolve(s"$name/out/oracle_sql.json"), oracles.map { case (k, v) =>
          s""""$k": ${ujson(v)}"""
        }.mkString("{", ", ", "}"))
      }
      spark.stop()
      r.seen.toSeq.map { case (k, f) => s"$k\t${f.rows}\t${f.hash}" }
    }
    println(lines.mkString("\n"))
  }

  private def ujson(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
