package graft.sources

import graft.SparkTestSession.{sf, spark, withTempDir}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite {

  test("csv and json round-trip the documents table") {
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "lang", "source", "n_chars") // text has newlines-free words; keep simple cols
    withTempDir("graft-src") { dir =>
      val csvPath = dir.resolve("docs_csv").toString
      val jsonPath = dir.resolve("docs_json").toString
      Sources.writeCsv(docs, csvPath)
      Sources.writeJson(docs, jsonPath)
      val fromCsv = Sources.readCsv(spark, csvPath, docs.schema)
      val fromJson = Sources.readJson(spark, jsonPath, docs.schema)
      val want = docs.collect().map(_.toSeq).toSet
      assert(fromCsv.collect().map(_.toSeq).toSet == want)
      assert(fromJson.collect().map(_.toSeq).toSet == want)
    }
  }

  test("text-line source reads one row per line (TextLineDataset analogue)") {
    withTempDir("graft-src") { dir =>
      val path = dir.resolve("lines").toString
      graft.Tables.documents(spark, sf).select("text").limit(50)
        .write.mode("overwrite").text(path)
      val lines = Sources.readTextLines(spark, path)
      assert(lines.count() == 50)
      assert(lines.columns.toSeq == Seq("value"))
    }
  }

  test("partitioned write prunes partitions on filtered read") {
    withTempDir("graft-src") { dir =>
      val path = dir.resolve("part_orders").toString
      Sources.writePartitioned(
        graft.Tables.orders(spark, sf).withColumn("status", col("o_orderstatus")),
        path, "status")
      // hive layout: one dir per status value
      val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName)
      assert(dirs.exists(_.startsWith("status=")))
      val filtered = Sources.readPartitioned(spark, path).filter(col("status") === "F")
      filtered.count()
      assert(Sources.prunesPartitions(filtered),
        "expected PartitionFilters on:\n" + filtered.queryExecution.executedPlan)
      // and the values survive the round trip
      val direct = graft.Tables.orders(spark, sf).filter(col("o_orderstatus") === "F").count()
      assert(filtered.count() == direct)
    }
  }
}
